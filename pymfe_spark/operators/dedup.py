"""Text deduplication over the ``documents`` table, as ONE near-dup
pipeline of shared stages.

``dedup_exact`` is a hash-groupBy on normalized text: one shuffle, the
100 TB workhorse. Every pairwise query is a configuration of the same
stages, each written once in Spark and once as DuckDB oracle SQL:

=====================  ========================  ==========================
stage                  Spark                     oracle SQL
=====================  ========================  ==========================
word-4-gram shingles   ``shingle_table``         ``_SHINGLE_CTE``
hashed word 4-grams    ``gram_hash_table``       ``_gram_cte``
signature + band fold  ``band_table``            ``_sig_bands_cte``
capped bucket join     ``_capped_join``          ``_capped_cte``,
                                                 ``_join_sql``
exact-Jaccard verify   ``_verify_jaccard``       ``_verify_cte``
=====================  ========================  ==========================

======================  ========================  ===============  ================
query                   bucket key                cap              final
======================  ========================  ===============  ================
dedup_ngram_jaccard     shingle                   MAX_SHINGLE_DF   shingle Jaccard
dedup_minhash_lsh       16 1-row bands (MH_*)     MAX_BAND_BUCKET  bands matched/16
dedup_minhash_verified  8 4-row bands (BV_*)      MAX_BAND_BUCKET  verify
dedup_incremental       8 4-row bands; new docs   MAX_BAND_BUCKET  verify, earliest
                        probe history             (history side)   history match
dedup_simhash_pairs     4 SimHash bit bands       MAX_BAND_BUCKET  hamming <= 3
decontam_ngram          shingle; benchmark side   —                hit share
(decontam.py)           broadcast, no join
======================  ========================  ===============  ================

Every hash is the cross-engine polynomial hash (``textops.poly_hash``)
composed with deterministic affine permutations in exact int64
arithmetic, so outputs are stable across runs and partitionings and
each query's oracle replicates it bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.operators.textops import TOKS_CTE
from pymfe_spark.operators.textops import _P, _docs, _tokens, poly_hash, poly_hash_sql
from pymfe_spark.plans.catalog import register

GROUP = "dedup"

_RNG = np.random.RandomState(99)
MINHASH_K = 16
MH_A = [int(a) for a in _RNG.randint(1, _P, MINHASH_K)]
MH_B = [int(b) for b in _RNG.randint(0, _P, MINHASH_K)]

# 4-gram combiner weights: the token-hash composition
# h(gram) = sum_j (h(token_j) * 31^(8j)) mod P continues the per-char
# weight scheme across token boundaries; the same fold turns a band's
# minhashes into one band key.
GRAM_W = 4  # shingle width (tokens per word-gram); independent of BND_R
GRAM_C = [pow(31, 8 * j, _P) for j in range(GRAM_W)]


# --- stage: word shingles ------------------------------------------


def shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, s)``: the distinct word-4-gram shingle strings of
    every document (Spark twin of ``_SHINGLE_CTE``); docs with < 4
    words have none.

    The tokens are a column before the grams are sliced: Catalyst does
    not CSE subexpressions inside lambda bodies, so tokenizing inline
    would re-run split+filter per gram element — O(words²) work per
    document."""
    w = F.col("w")
    k = F.size(w) - (GRAM_W - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(w, i, GRAM_W), "_"),
    )
    shingles = F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )
    toks = _docs(spark, sf_dir).select("doc_id", _tokens(F.col("text")).alias("w"))
    return toks.select("doc_id", F.explode(shingles).alias("s"))


_SHINGLE_CTE = f"""{TOKS_CTE}, sh AS (
  SELECT DISTINCT doc_id,
         w[i.i] || '_' || w[i.i+1] || '_' || w[i.i+2] || '_' || w[i.i+3] AS s
  FROM toks, unnest(range(1, greatest(len(w) - 2, 1))) AS i(i)
)"""


# --- stage: hashed word 4-grams --------------------------------------


def _fold(terms: list[Column]) -> Column:
    """``sum_j (term_j * GRAM_C[j]) mod P``. Each product stays < 2^62
    and is reduced mod P before summing (at most 4 terms < 4P), so both
    engines run exact int64 arithmetic."""
    return F.pmod(
        sum(F.pmod(t * F.lit(GRAM_C[j]), F.lit(_P)) for j, t in enumerate(terms)),
        F.lit(_P),
    )


def _fold_sql(terms: list[str]) -> str:
    """DuckDB twin of ``_fold``."""
    s = " + ".join(f"({t} * {GRAM_C[j]}) % {_P}" for j, t in enumerate(terms))
    return f"({s}) % {_P}"


def _grams(hw: Column) -> Column:
    """The hashed word-4-grams (repeats kept) of a token-hash array;
    empty when it holds fewer than GRAM_W tokens. ``hw`` must be a
    column or lambda variable, not an expression: the lambda body
    embeds it once per gram element."""
    k = F.size(hw) - (GRAM_W - 1)
    gram = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: _fold(
            [F.element_at(hw, (i + j).cast("int")) for j in range(GRAM_W)]
        ),
    )
    return F.when(k >= 1, gram).otherwise(F.array().cast("array<bigint>"))


def gram_hash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, h)``: the DISTINCT hashed word-4-gram shingles of
    every document — the shared input of all MinHash variants (Spark
    twin of ``_gram_cte``).

    Physical strategy: each TOKEN is poly-hashed once and 4-gram
    hashes are composed from the token-hash array with fixed weights
    (GRAM_C) — ~4x less character work than hashing materialized
    shingle strings (every token sits in up to 4 grams), and the
    shingle strings are never built at all. The token-hash array is
    materialized as a column before the explode: lambda bodies and
    aggregate expressions embed their argument subtrees (no CSE), so
    inlining would re-hash every token per gram / per aggregate."""
    th = _docs(spark, sf_dir).select(
        "doc_id", F.transform(_tokens(F.col("text")), poly_hash).alias("hw")
    )
    grams = F.array_distinct(_grams(F.col("hw")))
    return th.select("doc_id", F.explode(grams).alias("h"))


def _gram_cte() -> str:
    """Shared oracle CTE text: tokenized word arrays -> per-token
    polynomial hashes -> DISTINCT hashed 4-gram shingles per doc
    (``hashed(doc_id, h)``). Used verbatim by every MinHash oracle so
    the gram semantics cannot drift between variants."""
    gram = _fold_sql([f"hw[i.i + {j}]" for j in range(GRAM_W)])
    return f"""{TOKS_CTE}, th AS (
  SELECT doc_id, list_transform(w, t -> {poly_hash_sql("t")}) AS hw
  FROM toks
), hashed AS (
  SELECT DISTINCT doc_id, {gram} AS h
  FROM th, unnest(range(1, greatest(len(hw) - 2, 1))) AS i(i)
)"""


# --- stage: MinHash signature + band fold ----------------------------
#
# 1-row bands (dedup_minhash_lsh) are the max-recall end of the
# S-curve; the production point for web-scale near-dup detection is b
# bands of r rows: candidate iff ALL r minhashes of some band match, so
# the match probability is 1-(1-j^r)^b — a sharp threshold near
# (1/b)^(1/r) ~ 0.59 for b=8, r=4, which suppresses the low-jaccard
# candidate flood that 1-row bands admit at corpus scale. Candidates
# then get an exact-Jaccard verify on the gram table, restoring
# precision to 100%. With 1 row per band the fold returns the minhash
# unchanged (GRAM_C[0] = 1 and 0 <= m < P).
BND_B = 8  # bands
BND_R = 4  # rows (minhashes) per band
BND_K = BND_B * BND_R
_RNG2 = np.random.RandomState(1234)
BV_A = [int(a) for a in _RNG2.randint(1, _P, BND_K)]
BV_B = [int(b) for b in _RNG2.randint(0, _P, BND_K)]


def _perm(h: Column, a: int, b: int) -> Column:
    return F.pmod(F.lit(a) * h + F.lit(b), F.lit(_P))


def _band_structs(mins: list[Column], rows: int) -> Column:
    """``array<struct<band:int, bk:bigint>>``: band ``j`` folds minhashes
    ``rows*j .. rows*j + rows - 1`` into one key."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                _fold(mins[rows * j : rows * (j + 1)]).alias("bk"),
            )
            for j in range(len(mins) // rows)
        ]
    )


def band_table(
    sh: DataFrame, a: list[int] = BV_A, b: list[int] = BV_B, rows: int = BND_R
) -> DataFrame:
    """``(doc_id, band, bk)``: the folded band keys per document from a
    gram table ``(doc_id, h)`` — a len(a)-way signature agg over the
    permutations ``(a*h + b) mod P`` + a fold of every ``rows``
    consecutive minhashes. Defaults: the 8 x 4 production banding."""
    sig = sh.groupBy("doc_id").agg(
        *[F.min(_perm(F.col("h"), a[k], b[k])).alias(f"m{k}") for k in range(len(a))]
    )
    bands = _band_structs([F.col(f"m{k}") for k in range(len(a))], rows)
    return sig.select("doc_id", F.explode(bands).alias("bv")).select(
        "doc_id", F.col("bv.band").alias("band"), F.col("bv.bk").alias("bk")
    )


def _sig_bands_cte(
    a: list[int] = BV_A, b: list[int] = BV_B, rows: int = BND_R
) -> str:
    """Shared oracle CTE text for the banded signatures, twin of
    ``band_table``: ``sig`` (len(a) affine mins per doc) and ``bands``
    (the folded band keys per doc)."""
    sig_cols = ", ".join(
        f"min(({a[k]}::BIGINT * h + {b[k]}) % {_P}) AS m{k}" for k in range(len(a))
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, "
        f"{_fold_sql([f'm{rows * j + i}' for i in range(rows)])} AS bk FROM sig"
        for j in range(len(a) // rows)
    )
    return f"""sig AS (
  SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id
), bands AS (
  {band_rows}
)"""


def _let(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable and evaluate ``body`` on it —
    a let-expression via ``transform(array(value), v -> body(v))[1]``.

    Why: ``withColumn`` intermediates do NOT materialize anything —
    Catalyst's CollapseProject inlines adjacent projections, so a
    column referenced k times is recomputed k times unless a generator
    or aggregation barrier sits between the steps (gram_hash_table
    relies on its explode for exactly this). A stateless streaming
    projection has no such barrier; lambda variables are the
    expression-level fix — bound once per row at runtime, immune to
    projection collapse. Measured on the band-key projection below:
    381 s -> 0.7 s at sf0.001 (the collapsed form re-hashed every
    token per band x row x min — O(words²·k) work)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def with_band_keys(df: DataFrame) -> DataFrame:
    """Add a ``bands: array<struct<band:int, bk:bigint>>`` column to any
    DataFrame with a ``text`` column — the banded MinHash keys as a PURE
    PROJECTION (no explode/groupBy), bit-identical to ``band_table``
    (min over the gram array equals min over the exploded distinct
    grams: duplicates can't change a min; proven by the
    streaming==batch test).

    This is the streaming-safe form: stateless, usable before a
    watermark/stateful stage. The token-hash array and gram array are
    bound as lambda variables (``_let``) so each is computed once per
    row despite living in a single projection. Docs with < 4 tokens
    get an empty ``bands`` array (null mins are filtered), matching
    their absence from the gram table."""

    def bands_of(grams: Column) -> Column:
        mins = [
            F.array_min(F.transform(grams, lambda g: _perm(g, BV_A[k], BV_B[k])))
            for k in range(BND_K)
        ]
        return F.filter(_band_structs(mins, BND_R), lambda s: s["bk"].isNotNull())

    hw = F.transform(_tokens(F.col("text")), poly_hash)
    return df.withColumn("bands", _let(hw, lambda hw: _let(_grams(hw), bands_of)))


# --- stage: capped bucket join ---------------------------------------

# document-frequency cap for the shingle join: a shingle shared by
# more than MAX_SHINGLE_DF documents is boilerplate, carries no dedup
# signal, and degenerates the self-join quadratically (one stop-shingle
# in 1M docs = 10^12 pairs). Dropped BEFORE the join in both engines —
# the Jaccard denominator keeps the full per-doc shingle-set size, so
# surviving pairs score identically; pairs that shared ONLY hot
# shingles are (intentionally) not emitted.
MAX_SHINGLE_DF = 128

# cap on band-bucket size: a (band, value) bucket shared by more than
# MAX_BAND_BUCKET docs is a mega-cluster of near-identical documents —
# it belongs to dedup_exact (one groupBy), not to the pairwise LSH path
# (B docs -> B² pairs). Mirrored in the oracle.
MAX_BAND_BUCKET = 64
_BAND_KEYS = ["band", "bk"]


def _capped_join(
    build: DataFrame, keys: list[str], cap: int, probe: DataFrame | None = None
) -> DataFrame:
    """Equi-join on ``keys`` against ``build`` with its hot buckets
    (more than ``cap`` rows) removed first; the probe side is aliased
    ``a`` and the capped side ``b``. Without ``probe`` it is the
    self-join of the capped table on ``a.doc_id < b.doc_id``.

    The hot list is a groupBy (map-side combine absorbs the skew — a
    window over the key would materialize the mega-partition the cap
    is here to prevent), tiny by construction, so it is BROADCAST into
    a LEFT ANTI join, which drops hot rows with no shuffle of the big
    side."""
    hot = (
        build.groupBy(*keys)
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") > cap)
        .select(*keys)
    )
    cold = build.join(F.broadcast(hot), keys, "left_anti")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if probe is None:
        probe = cold
        on.append(F.col("a.doc_id") < F.col("b.doc_id"))
    return probe.alias("a").join(cold.alias("b"), reduce(lambda x, y: x & y, on))


def _capped_cte(
    name: str, src: str, keys: list[str], cap: int, extra: tuple[str, ...] = ()
) -> str:
    """Oracle twin of ``_capped_join``'s cap: CTE ``name`` holds the
    ``src`` rows whose ``keys`` bucket has at most ``cap`` rows."""
    cols = ", ".join(["doc_id", *extra, *keys])
    return f"""{name} AS (
  SELECT {cols}
  FROM (SELECT {cols},
               count(*) OVER (PARTITION BY {", ".join(keys)}) AS bsz
        FROM {src})
  WHERE bsz <= {cap}
)"""


def _join_sql(probe: str, build: str, keys: list[str]) -> str:
    """Oracle twin of ``_capped_join``'s join (``a`` probe, ``b``
    build); the self-join (``probe == build``) keeps a.doc_id <
    b.doc_id."""
    on = [f"a.{k} = b.{k}" for k in keys]
    if probe == build:
        on.append("a.doc_id < b.doc_id")
    return f"{probe} a JOIN {build} b\n    ON {' AND '.join(on)}"


def _band_pairs(bands: DataFrame, cap: int) -> DataFrame:
    """``(doc_a, doc_b, n_bands_matched)`` from a band table: the
    capped (band, bk) self-join, one row per colliding pair."""
    return (
        _capped_join(bands, _BAND_KEYS, cap)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands_matched"))
    )


_BAND_PAIRS_CTE = f"""{_capped_cte("cold", "bands", _BAND_KEYS, MAX_BAND_BUCKET)},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         cast(count(*) AS bigint) AS n_bands_matched
  FROM {_join_sql("cold", "cold", _BAND_KEYS)}
  GROUP BY a.doc_id, b.doc_id
)"""


def banded_candidate_pairs(
    sh: DataFrame, max_band_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Banded candidate generation over a gram table ``(doc_id, h)``:
    32-way signature agg -> 8 folded band keys -> mega-bucket
    broadcast-anti cap -> (band, bk) equi-self-join ->
    ``(doc_a, doc_b, n_bands_matched)``. Shared by the batch verified
    pipeline and the streaming twin's equivalence test."""
    return _band_pairs(band_table(sh), max_band_bucket)


# --- stage: exact gram-Jaccard verify --------------------------------

# exact-Jaccard floor for verified pairs, in percent: the filter is
# evaluated in exact integer arithmetic (inter*100 >= PCT*union) on
# both engines, so no float-boundary row can flip between them.
MINHASH_VERIFY_PCT = 35


def _verify_jaccard(cand: DataFrame, sh: DataFrame, a: str, b: str) -> DataFrame:
    """``cand``'s columns + ``jaccard`` for the candidate pairs (doc ids
    in columns ``a``, ``b``) whose exact gram-Jaccard over the gram
    table ``sh`` is at least MINHASH_VERIFY_PCT percent. Only candidate
    docs' grams are joined (candidates << corpus by the S-curve)."""
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # the gram and size tables are DATA-SIZED (grams ~ tokens x corpus),
    # but Catalyst's static estimate after the agg/join chain can fall
    # under the broadcast threshold and statically plan BuildRight
    # broadcasts — fine at test scale, a driver OOM at 10^6 docs
    # (measured: "Not enough memory to build and broadcast" at 1.1M
    # docs). hint("merge") pins the safe sort-merge strategy at plan
    # time; AQE may still downgrade to broadcast at RUNTIME from real
    # sizes, which is exactly the right policy.
    x, y = sh.hint("merge").alias("x"), sh.hint("merge").alias("y")
    inter = (
        cand.join(x, F.col(a) == F.col("x.doc_id"))
        .join(y, (F.col(b) == F.col("y.doc_id")) & (F.col("x.h") == F.col("y.h")))
        .groupBy(*cand.columns)
        .agg(F.count("*").alias("ninter"))
    )
    za, zb = sz.hint("merge").alias("za"), sz.hint("merge").alias("zb")
    union = F.col("za.n") + F.col("zb.n") - F.col("ninter")
    return (
        inter.join(za, F.col(a) == F.col("za.doc_id"))
        .join(zb, F.col(b) == F.col("zb.doc_id"))
        .filter(F.col("ninter") * F.lit(100) >= F.lit(MINHASH_VERIFY_PCT) * union)
        .select(*cand.columns, r(F.col("ninter") / union).alias("jaccard"))
    )


def _verify_cte(cand: str, cols: list[str]) -> str:
    """Oracle twin of ``_verify_jaccard``: CTE ``verified`` holds
    ``cand``'s ``cols`` (the first two are the pair's doc ids) +
    ``jaccard``, needs ``_gram_cte``'s ``hashed``."""
    a, b = cols[:2]
    c_cols = ", ".join(f"c.{c}" for c in cols)
    i_cols = ", ".join(f"i.{c}" for c in cols)
    return f"""sz AS (
  SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id
), inter AS (
  SELECT {c_cols}, count(*) AS ninter
  FROM {cand} c
  JOIN hashed x ON x.doc_id = c.{a}
  JOIN hashed y ON y.doc_id = c.{b} AND y.h = x.h
  GROUP BY {c_cols}
), verified AS (
  SELECT {i_cols},
         round(i.ninter * 1.0 / (za.n + zb.n - i.ninter), 6) AS jaccard
  FROM inter i
  JOIN sz za ON za.doc_id = i.{a}
  JOIN sz zb ON zb.doc_id = i.{b}
  WHERE i.ninter * 100 >= {MINHASH_VERIFY_PCT} * (za.n + zb.n - i.ninter)
)"""


# ---------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY lower(trim(text))) AS canonical_id,
       count(*)    OVER (PARTITION BY lower(trim(text))) AS cluster_size
FROM documents
"""


@register(
    "dedup_exact",
    oracle=_EXACT_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: every doc mapped to its cluster's
    canonical (min) doc_id + cluster size.

    Physical shape: groupBy(norm).agg(min, count) + join back on norm —
    NOT a window over the normalization key. The window form sorts full
    text bytes inside every partition; the agg form map-side-combines
    (duplicates collapse before the exchange) and the join's build side
    carries one row per distinct text. Both sides hash-partition on
    norm, so the join reuses the aggregation's exchange."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("norm")
    )
    clusters = d.groupBy("norm").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("cluster_size"),
    )
    return d.join(clusters, "norm").select(
        "doc_id", "canonical_id", "cluster_size"
    )


_JACCARD_ORACLE = f"""
WITH {_SHINGLE_CTE}, sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), {_capped_cte("cold", "sh", ["s"], MAX_SHINGLE_DF)}, shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM {_join_sql("cold", "cold", ["s"])}
  GROUP BY a.doc_id, b.doc_id
)
SELECT sh.doc_a, sh.doc_b,
       round(sh.inter * 1.0 / (sa.n + sb.n - sh.inter), 6) AS jaccard
FROM shared sh
JOIN sizes sa ON sh.doc_a = sa.doc_id
JOIN sizes sb ON sh.doc_b = sb.doc_id
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, group=GROUP)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Word-4-gram Jaccard similarity for every candidate pair (docs
    sharing >= 1 sub-cap shingle). Candidate generation via shingle-key
    equi-join — shuffle on the shingle, never a cross join — with hot
    shingles (document frequency > max_shingle_df) removed BEFORE the
    join (see MAX_SHINGLE_DF): the cap is enforced in the plan, not a
    docstring, and the oracle mirrors it so the gate verifies the
    capped semantics. The intersection counts only sub-cap shingles;
    the union denominator keeps full shingle-set sizes."""
    sh = shingle_table(spark, sf_dir)
    # shingle-set size rides along via a window BEFORE the self-join:
    # both join sides stay the identical subtree (one shuffle of the
    # shingle table per window key, physically reused) and no post-join
    # size lookups. The cap's hot-list aggregation is built from the
    # same ``shn`` subtree, so its window exchange is reusable at
    # runtime too (AQE exchange reuse; measured 2.46 -> 1.9 s at
    # sf0.1). At 100 TB the shingle table would be staged/persisted
    # once and every branch would read the materialization instead.
    shn = sh.select(
        "doc_id", "s", F.count("*").over(Window.partitionBy("doc_id")).alias("n")
    )
    return (
        _capped_join(shn, ["s"], max_shingle_df)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            r(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_gram_cte()}, {_sig_bands_cte(MH_A, MH_B, 1)}, {_BAND_PAIRS_CTE}
SELECT doc_a, doc_b, n_bands_matched,
       round(n_bands_matched * 1.0 / {MINHASH_K}, 6) AS est_jaccard
FROM pairs
""",
    group=GROUP,
)
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, max_band_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """MinHash signatures (k=16 affine permutations of the cross-engine
    polynomial shingle hash) + 1-row banding: candidate pair when any
    band collides, with mega-buckets (> max_band_bucket docs sharing a
    band value — near-identical clusters that belong to dedup_exact)
    dropped before the join. Output: (doc_a, doc_b, n_bands_matched,
    est_jaccard). est_jaccard = matched bands / k is the unbiased
    MinHash estimate; unit tests check it tracks exact Jaccard, and
    the full pipeline (hash, permutations, banding, cap, join) is
    DuckDB-oracle-checked bit-for-bit. 1-row bands maximize recall;
    ``dedup_minhash_verified`` is the production operating point
    (8 bands x 4 rows + exact verify)."""
    bands = band_table(gram_hash_table(spark, sf_dir), MH_A, MH_B, 1)
    return _band_pairs(bands, max_band_bucket).select(
        "doc_a",
        "doc_b",
        "n_bands_matched",
        r(F.col("n_bands_matched") / F.lit(float(MINHASH_K))).alias("est_jaccard"),
    )


@register(
    "dedup_minhash_verified",
    oracle=f"""
WITH {_gram_cte()}, {_sig_bands_cte()}, {_BAND_PAIRS_CTE},
{_verify_cte("pairs", ["doc_a", "doc_b", "n_bands_matched"])}
SELECT doc_a, doc_b, n_bands_matched, jaccard FROM verified
""",
    group=GROUP,
)
def dedup_minhash_verified(
    spark: SparkSession, sf_dir: str, max_band_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """The full production near-dup pipeline in one query: banded
    MinHash (k=32 as 8 bands x 4 rows) candidate generation -> exact
    gram-Jaccard verify -> keep pairs with jaccard >= 0.35.

    Scale shape: the gram table shuffles once for the 32-way signature
    agg; band keys fold each band's 4 minhashes into one BIGINT (same
    exact mod-P arithmetic both engines), so the candidate join is a
    plain equi-join on (band, bk) with the mega-bucket broadcast-anti
    cap; the verify re-joins only candidate docs' grams. Every stage
    is deterministic and the WHOLE pipeline — hash, permutations, band
    fold, cap, join, exact verify, integer-exact threshold — is
    DuckDB-value-oracled.

    Reference analogue: near-dup curation has no pymfe counterpart;
    the operating point follows the published LSH banding analysis
    (match prob 1-(1-j^r)^b)."""
    sh = gram_hash_table(spark, sf_dir)
    return _verify_jaccard(
        banded_candidate_pairs(sh, max_band_bucket), sh, "doc_a", "doc_b"
    )


# --- incremental dedup: new increment vs historical corpus ---------
#
# The production daily shape: dedup the new crawl/ingest increment
# against the already-curated corpus WITHOUT re-pairing history with
# itself. Deterministic split on the fixture: doc_id % INCR_MOD == 0
# is the "new" increment (20%), the rest is history.
INCR_MOD = 5

_INCREMENTAL_ORACLE = f"""
WITH {_gram_cte()}, {_sig_bands_cte()},
newd AS (
  SELECT doc_id, lower(trim(text)) AS norm FROM documents
  WHERE doc_id % {INCR_MOD} = 0
), hn AS (
  SELECT norm, min(doc_id) AS dup_of_exact
  FROM (SELECT doc_id, lower(trim(text)) AS norm FROM documents
        WHERE doc_id % {INCR_MOD} <> 0)
  GROUP BY norm
), nb AS (
  SELECT doc_id, band, bk FROM bands WHERE doc_id % {INCR_MOD} = 0
), {_capped_cte("hbc", f"bands WHERE doc_id % {INCR_MOD} <> 0", _BAND_KEYS,
                 MAX_BAND_BUCKET)}, cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS hist_id
  FROM {_join_sql("nb", "hbc", _BAND_KEYS)}
), {_verify_cte("cand", ["new_id", "hist_id"])}, near AS (
  SELECT new_id, min(hist_id) AS dup_of_near FROM verified GROUP BY new_id
)
SELECT nd.doc_id,
       CASE WHEN hn.dup_of_exact IS NOT NULL THEN 'drop_exact'
            WHEN near.dup_of_near IS NOT NULL THEN 'drop_near'
            ELSE 'keep' END AS decision,
       cast(coalesce(hn.dup_of_exact, near.dup_of_near) AS BIGINT)
         AS dup_of
FROM newd nd
LEFT JOIN hn ON hn.norm = nd.norm
LEFT JOIN near ON near.new_id = nd.doc_id
"""


def _increment_candidates(bands: DataFrame, max_band_bucket: int) -> DataFrame:
    """``(new_id, hist_id)``: the band keys of new docs probing the
    history band table, with the cap on the history side only."""
    is_new = F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0
    return (
        _capped_join(
            bands.filter(~is_new), _BAND_KEYS, max_band_bucket,
            probe=bands.filter(is_new),
        )
        .select(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("hist_id"))
        .distinct()
    )


@register("dedup_incremental", oracle=_INCREMENTAL_ORACLE, group=GROUP)
def dedup_incremental(
    spark: SparkSession, sf_dir: str, max_band_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Dedup a new ingest increment against the historical corpus: one
    row per NEW document with ``decision`` in {drop_exact, drop_near,
    keep} and ``dup_of`` = the earliest matching history doc.

    Tiers (exact wins over near): exact = normalized-text equi-join
    against the per-norm min-doc history aggregate; near = banded
    MinHash keys of new docs equi-joined against the history band
    table (mega-buckets capped on the HISTORY side — boilerplate
    buckets belong to the global exact pass), then the exact
    gram-Jaccard verify at the integer-exact threshold.

    Scale shape vs the global pipeline: history never self-joins —
    the increment (small) joins two history-keyed tables, so the
    per-day cost is O(increment + touched buckets), not O(corpus²).
    In production the history norm/band tables are the bucketed
    tables sources/bucketed.py maintains (pay-once layout); here they
    derive from the same scan so the whole operator stays
    DuckDB-value-oracled. Within-increment duplicates are NOT paired
    (that is the global/streaming path's job). Composes with
    streaming_neardup_candidates: same band keys, same verify."""
    docs = _docs(spark, sf_dir)
    is_new = F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0
    norm = F.lower(F.trim(F.col("text")))
    new_docs = docs.filter(is_new).select("doc_id", norm.alias("norm"))
    hist_norms = (
        docs.filter(~is_new)
        .select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("dup_of_exact"))
    )
    # history-keyed tables are DATA-SIZED: pin the safe merge strategy
    # (AQE may downgrade to broadcast from real runtime sizes) — same
    # static-broadcast OOM exposure as the verify's joins
    exact = new_docs.join(hist_norms.hint("merge"), "norm", "left").select(
        "doc_id", "dup_of_exact"
    )

    sh = gram_hash_table(spark, sf_dir)
    cand = _increment_candidates(band_table(sh), max_band_bucket)
    near = (
        _verify_jaccard(cand, sh, "new_id", "hist_id")
        .groupBy("new_id")
        .agg(F.min("hist_id").alias("dup_of_near"))
    )

    return (
        exact.join(near, exact.doc_id == near.new_id, "left")
        .select(
            "doc_id",
            F.when(F.col("dup_of_exact").isNotNull(), F.lit("drop_exact"))
            .when(F.col("dup_of_near").isNotNull(), F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("decision"),
            F.coalesce("dup_of_exact", "dup_of_near")
            .cast("long")
            .alias("dup_of"),
        )
    )


SIMHASH_BITS = 31  # poly hash is mod 2^31-1 -> 31 usable bits
# 4 bands of 8/8/8/7 bits: any pair within hamming 3 shares >= 1 band
_SIMHASH_BAND_BITS = ((0, 8), (8, 8), (16, 8), (24, 7))


def _simhash_cte() -> str:
    """Oracle twin of ``dedup_simhash``: CTE ``sig`` holds (doc_id,
    simhash, band0..band3)."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    sh_expr = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {2**j}::BIGINT ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    band_cols = ", ".join(
        f"cast((simhash >> {off}) & {2**width - 1} AS int) AS band{k}"
        for k, (off, width) in enumerate(_SIMHASH_BAND_BITS)
    )
    return f"""{TOKS_CTE}, tok AS (
  SELECT DISTINCT doc_id, t FROM (SELECT doc_id, unnest(w) AS t FROM toks)
), hashed AS (
  SELECT doc_id, {poly_hash_sql("t")} AS h FROM tok
), bits AS (
  SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
), sig AS (
  SELECT doc_id, simhash, {band_cols}
  FROM (SELECT doc_id, {sh_expr} AS simhash FROM bits)
)"""


@register(
    "dedup_simhash",
    oracle=f"WITH {_simhash_cte()}\nSELECT * FROM sig",
    group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-bit SimHash over distinct tokens (sign-aggregated bits of the
    cross-engine polynomial token hash) + 4 bands (8/8/8/7 bits) for
    hamming-neighbor bucketing; signature construction and banding
    are oracle-checked bit-for-bit."""
    # hash materialized pre-aggregation: 31 sum() expressions would
    # otherwise each re-evaluate the hash per row (no CSE across
    # aggregate expressions)
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("t")
    ).select("doc_id", poly_hash(F.col("t")).alias("h"))
    h = F.col("h")
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    )
    out = bit_sums.select("doc_id", simhash.cast("long").alias("simhash"))
    return out.select(
        "doc_id",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), off)
            .bitwiseAND(F.lit(2**width - 1))
            .cast("int")
            .alias(f"band{k}")
            for k, (off, width) in enumerate(_SIMHASH_BAND_BITS)
        ],
    )


SIMHASH_MAX_HAMMING = 3

_SIMHASH_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, simhash, {k} AS k, band{k} AS v FROM sig"
    for k in range(len(_SIMHASH_BAND_BITS))
)
_SIMHASH_PAIRS_ORACLE = f"""
WITH {_simhash_cte()}, bands AS (
  {_SIMHASH_BANDS}
), {_capped_cte("cold", "bands", ["k", "v"], MAX_BAND_BUCKET, ("simhash",))}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
FROM {_join_sql("cold", "cold", ["k", "v"])}
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """SimHash near-duplicate pairs: candidates from band collisions,
    verified by exact hamming distance.

    Pigeonhole guarantee: with 4 bands, any pair within hamming
    distance 3 differs in at most 3 bands, so at least one band
    matches exactly — the equi-join on (band index, band value) has
    100% recall at max_hamming <= 3 while shuffling only band-bucket
    collisions, never the O(n²) pair space. Mega-buckets (>
    MAX_BAND_BUCKET docs sharing a band value — boilerplate-identical
    clusters, dedup_exact's job) are dropped before the join, trading
    bounded recall loss on exact-dup clusters for a hard pair-count
    bound. Verification is JVM-side bit_count(xor) on the full
    signatures; the DuckDB oracle replicates hash, banding, cap, join,
    and verify bit-for-bit. Output: (doc_a, doc_b, hamming), one row
    per pair (multi-band collisions deduped); recovery of planted
    near-dups is unit-tested against token-level edits."""
    n_bands = len(_SIMHASH_BAND_BITS)
    bands = dedup_simhash(spark, sf_dir).select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), F.col(f"band{k}").alias("v"))
                    for k in range(n_bands)
                ]
            )
        ).alias("kv"),
    ).select("doc_id", "simhash", F.col("kv.k").alias("k"), F.col("kv.v").alias("v"))
    pairs = _capped_join(bands, ["k", "v"], MAX_BAND_BUCKET).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
            "hamming"
        ),
    )
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()
