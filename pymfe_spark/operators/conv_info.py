"""Per-conversation info-theory / class-balance / clustering-index /
itemset / summary-layer measures — SQL tier (continued from conv_stats).

Every categorical query here, ``mf_general`` (conv_stats) and the
kernel cross-check oracles (plans/extractor_queries.py) are
configurations of four class-count stages, each written once in Spark
and once as DuckDB SQL, as pymfe computes ``class_freqs`` once for
every measure:

==================  ================================  ====================
stage               Spark                             oracle SQL
==================  ================================  ====================
tool0 key           ``tool0``                         ``TOOL0_SQL``
class-count table   ``class_counts``                  ``class_counts_sql``,
                                                      ``marginal_sql``
relative frequency  ``freq``                          ``freq_sql``
finishers           ``entropy``, ``class_balance``,   the same code over
                    ``joint_entropy``,                ``SQL`` (``PY`` for
                    ``running_entropy`` over ``COL``  the streaming state)
==================  ================================  ====================

Parity targets:
- entropies: /root/reference/pymfe/info_theory.py (attr_ent 277-313,
  class_ent 344-389, joint_ent 457-508 with eps=1e-8 dense-crosstab
  smoothing at 183-195, mut_inf 511-588, eq_num_attr 392-454,
  ns_ratio 591-650).
- class balance: complexity.py c1 1966-2004, c2 2005-2045;
  clustering.py nre 878-912, sc 915-962, ch 851-875, vdb 627-648.
- itemset: itemset.py one_itemset 151-190, two_itemset 99-148.
- summary layer: _summary.py histogram 26-59, quantiles 62-143,
  sum/powersum/pnorm 356-444.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.functions.moments import COL, SQL, Engine
from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.operators.base import TURNS_SQL, turns
from pymfe_spark.plans.catalog import register
from pymfe_spark.sources import transcripts, with_transcripts_cte

GROUP = "metafeature-sql"

def _conv_w():
    return Window.partitionBy("conv_id")


# ------------------------------------------------------ stage 1: tool0 key
# a null tool is the 'NONE' class, as in the kernel's C view
TOOL0_SQL = "coalesce(tool, 'NONE')"


def tool0() -> Column:
    return F.coalesce("tool", F.lit("NONE")).alias("tool0")


# ---------------------------------------------- stage 2: class-count table
def class_counts(df: DataFrame, *keys: str | Column) -> DataFrame:
    """``(conv_id, *keys, c)``: rows per conversation and class."""
    return df.groupBy("conv_id", *keys).agg(F.count("*").alias("c"))


def class_counts_sql(source: str, *keys: str, c: str = "count(*)") -> str:
    """SQL twin of :func:`class_counts`; keys may be aliased expressions."""
    cols = ", ".join(("conv_id", *keys, f"{c} AS c"))
    return f"SELECT {cols} FROM {source} GROUP BY ALL"


def marginal_sql(joint: str, *keys: str) -> str:
    """``(conv_id, *keys, c)`` folded from a finer count table."""
    return class_counts_sql(joint, *keys, c="sum(c)")


# ---------------------------------------------- stage 3: relative frequency
def freq(counts: DataFrame) -> DataFrame:
    """Adds ``n = sum(c) OVER (conv_id)`` and ``p = c / n``."""
    n = F.sum("c").over(_conv_w())
    return counts.withColumn("n", n).withColumn("p", F.col("c") / n)


def freq_sql(counts: str) -> str:
    n = "sum(c) OVER (PARTITION BY conv_id)"
    return f"SELECT *, {n} AS n, c / {n} AS p FROM ({counts})"


# ``(conv_id, role, c, n, p)``: the role frequency table
ROLE_FREQ_SQL = freq_sql(class_counts_sql("transcripts", "role"))
# joint (role, tool0) counts ``jc`` and the role and tool0 frequency
# tables ``ca`` and ``cb`` folded from them (one scan)
JOINT_CTES = f"""
 jc AS ({class_counts_sql("transcripts", "role", f"{TOOL0_SQL} AS tool0")}),
 ca AS ({freq_sql(marginal_sql("jc", "role"))}),
 cb AS ({freq_sql(marginal_sql("jc", "tool0"))})"""


# --------------------------------------------------------- stage 4: finishers
def entropy(e: Engine, log: Callable | None = None) -> Any:
    """``-sum(p * log(p))`` over a conversation's frequency rows, log2
    by default; the unary minus keeps a one-class entropy at -0.0."""
    p = e.col("p")
    return -e.sum(p * (log or e.log2)(p))


def class_balance(e: Engine) -> dict[str, Any]:
    """class_ent, nre (ln), c1, c2 (NULL for one class) and sc, the
    number of classes with fewer than 15 rows."""
    c, n, k = e.col("c"), e.col("n"), e.count("*")
    ent = entropy(e)
    return {
        "class_ent": ent,
        "nre": entropy(e, e.ln),
        "c1": e.when(k > 1, lambda: ent / e.log2(e.to_double(k))),
        "c2": 1.0 - 1.0 / (((k - 1.0) / k) * e.sum(c / e.nonzero(n - c))),
        "sc": e.count(e.when(c < 15, lambda: 1)),
    }


_EPS = 1e-8


def joint_entropy(e: Engine) -> Any:
    """pymfe's eps-smoothed joint entropy of counts ``c`` over ``n`` rows
    and ``cells`` dense crosstab cells, its zero cells never materialized:
    -[sum q log2 q + (cells - nonzero) q0 log2 q0], Z = 1 + cells*eps."""
    c, n, cells = e.col("c"), e.col("n"), e.col("cells")
    q = (c / n + _EPS) / (e.lit(1.0) + cells * _EPS)
    q0 = _EPS / (e.lit(1.0) + e.max(cells) * _EPS)
    return -(e.sum(q * e.log2(q)) + (e.max(cells) - e.count("*")) * q0 * e.log2(q0))


def running_entropy(n: Any, sclc: Any, e: Engine) -> Any:
    """Class entropy of a prefix of ``n`` rows from ``sclc``, the
    sorted-order sum of ``c * log2(c)`` over its class counts."""
    return e.log2(n) - sclc / n


# ---------------------------------------------------------------------
# class entropy + class balance + size-based clustering indexes
# ---------------------------------------------------------------------

CLASS_BALANCE_SQL = class_balance(SQL)
_CLASSBAL_ORACLE = with_transcripts_cte(
    f"""
SELECT conv_id,
       {"".join(f"round({v}, 6) AS {k}, " for k, v in CLASS_BALANCE_SQL.items() if k != "sc")}
       cast({CLASS_BALANCE_SQL["sc"]} AS bigint) AS sc
FROM ({ROLE_FREQ_SQL})
GROUP BY conv_id
"""
)


@register(
    "mf_class_balance",
    oracle=_CLASSBAL_ORACLE,
    group=GROUP,
    gate_oracle=False,  # r5 rotation out: recorded 4/4 rounds; pytest enforces
)
def mf_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """class_ent (info_theory.py:344-389), nre (clustering.py:878-912),
    c1/c2 (complexity.py:1966-2045) and sc (clustering.py:915-962),
    all finished from one role-count table (one shuffle)."""
    cb = class_balance(COL)
    counts = freq(class_counts(transcripts(spark, sf_dir), "role"))
    return counts.groupBy("conv_id").agg(
        *(r(cb[k]).alias(k) for k in ("class_ent", "nre", "c1", "c2")),
        cb["sc"].alias("sc"),
    )


# ---------------------------------------------------------------------
# attr entropy over equal-frequency-discretized text_len
# (discretization parity: floor(n^(1/3)) bins,
#  /root/reference/pymfe/_internal.py:1550-1624; binning via
#  percent_rank is the distributed equivalent of quantile+digitize)
# ---------------------------------------------------------------------

_ATTRENT_BINS = """(SELECT conv_id,
        least(cast(floor(percent_rank() OVER
              (PARTITION BY conv_id ORDER BY text_len)
              * greatest(cast(floor(cbrt(n) + 1e-9) AS int), 1)) AS int),
              greatest(cast(floor(cbrt(n) + 1e-9) AS int), 1) - 1) AS bin
 FROM (SELECT conv_id, text_len,
              count(*) OVER (PARTITION BY conv_id) AS n
       FROM turns))"""

_ATTRENT_ORACLE = with_transcripts_cte(
    f"""
SELECT conv_id,
       round({entropy(SQL)}, 6)      AS attr_ent,
       cast(count(*) AS bigint)         AS nr_bins_used
FROM ({freq_sql(class_counts_sql(_ATTRENT_BINS, "bin"))})
GROUP BY conv_id
""",
    extra_ctes=TURNS_SQL,
)


@register("mf_info_attr_ent", oracle=_ATTRENT_ORACLE, group=GROUP)
def mf_info_attr_ent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (base 2) of equal-frequency-binned text_len.

    Parity: attr_ent info_theory.py:277-313 over the
    floor(n^(1/3))-bin discretization _internal.py:1550-1624.
    """
    t = turns(spark, sf_dir).select("conv_id", "text_len")
    t = t.withColumn("n", F.count("*").over(_conv_w()))
    # +1e-9 nudge: cbrt of a perfect cube may land epsilon-below the
    # integer in one engine and exactly on it in another
    kbins = F.greatest(F.floor(F.cbrt("n") + F.lit(1e-9)).cast("int"), F.lit(1))
    pr = F.percent_rank().over(Window.partitionBy("conv_id").orderBy("text_len"))
    binned = t.withColumn(
        "bin",
        F.least(F.floor(pr * kbins).cast("int"), (kbins - 1).cast("int")),
    )
    return freq(class_counts(binned, "bin")).groupBy("conv_id").agg(
        r(entropy(COL)).alias("attr_ent"), F.count("*").alias("nr_bins_used")
    )


# ---------------------------------------------------------------------
# joint entropy with the reference's eps-smoothed dense crosstab +
# derived mut_inf / eq_num_attr / ns_ratio
# ---------------------------------------------------------------------

_JOINT_ORACLE = with_transcripts_cte(
    f"""
SELECT e.conv_id,
       round(e.joint_ent, 6)                                AS joint_ent,
       round(hr.ent + ht.ent - e.joint_ent, 6)              AS mut_inf,
       round(hr.ent / nullif(hr.ent + ht.ent - e.joint_ent, 0), 6)
                                                            AS eq_num_attr,
       round((ht.ent - (hr.ent + ht.ent - e.joint_ent))
             / nullif(hr.ent + ht.ent - e.joint_ent, 0), 6) AS ns_ratio
FROM e JOIN hr ON e.conv_id = hr.conv_id
       JOIN ht ON e.conv_id = ht.conv_id
""",
    extra_ctes=f"""{JOINT_CTES},
 dims AS (SELECT conv_id,
                 count(DISTINCT role)  * count(DISTINCT tool0) AS cells,
                 sum(c) AS n
          FROM jc GROUP BY conv_id),
 e AS (SELECT conv_id, {joint_entropy(SQL)} AS joint_ent
       FROM jc JOIN dims USING (conv_id) GROUP BY conv_id),
 hr AS (SELECT conv_id, {entropy(SQL)} AS ent FROM ca GROUP BY conv_id),
 ht AS (SELECT conv_id, {entropy(SQL)} AS ent FROM cb GROUP BY conv_id)""",
)


@register("mf_info_joint", oracle=_JOINT_ORACLE, group=GROUP)
def mf_info_joint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """joint_ent(role, tool) with the reference's eps=1e-8 smoothing
    of every dense-crosstab cell (info_theory.py:183-195; see
    joint_entropy), plus mut_inf (511-588), eq_num_attr (392-454,
    d=1 attr), ns_ratio (591-650)."""
    t2 = transcripts(spark, sf_dir).select("conv_id", "role", tool0())
    # every marginal (role, tool0, dims) folds from the joint counts:
    # one scan, its exchange reused by each branch
    jc = class_counts(t2, "role", "tool0")
    dims = jc.groupBy("conv_id").agg(
        (F.count_distinct("role") * F.count_distinct("tool0")).alias("cells"),
        F.sum("c").alias("n"),
    )
    e = jc.join(dims, "conv_id").groupBy("conv_id").agg(
        joint_entropy(COL).alias("joint_ent")
    )
    hr, ht = (
        freq(jc.groupBy("conv_id", key).agg(F.sum("c").alias("c")))
        .groupBy("conv_id").agg(entropy(COL).alias(name))
        for key, name in (("role", "hr"), ("tool0", "ht"))
    )
    mi = F.col("hr") + F.col("ht") - F.col("joint_ent")
    return (
        e.join(hr, "conv_id")
        .join(ht, "conv_id")
        .select(
            "conv_id",
            r("joint_ent").alias("joint_ent"),
            r(mi).alias("mut_inf"),
            r(F.col("hr") / F.nullif(mi, F.lit(0.0))).alias("eq_num_attr"),
            r((F.col("ht") - mi) / F.nullif(mi, F.lit(0.0))).alias("ns_ratio"),
        )
    )


# ---------------------------------------------------------------------
# 1-D clustering indexes on text_len grouped by role: Calinski-Harabasz
# + Davies-Bouldin (clustering.py ch 851-875, vdb 627-648)
# ---------------------------------------------------------------------

_CLUSTIDX_ORACLE = with_transcripts_cte(
    """
SELECT ch.conv_id, round(ch.ch, 6) AS ch, round(db.vdb, 6) AS vdb
FROM ch JOIN db ON ch.conv_id = db.conv_id
""",
    extra_ctes=TURNS_SQL
    + """,
 g AS (SELECT conv_id, role, count(*) AS ni, avg(text_len) AS ci,
              avg(abs(text_len - mu_i)) AS si,
              sum(pow(text_len - mu_i, 2)) AS ssw_i
       FROM (SELECT conv_id, role, text_len,
                    avg(text_len) OVER (PARTITION BY conv_id, role) AS mu_i
             FROM turns)
       GROUP BY conv_id, role),
 tot AS (SELECT conv_id, avg(text_len) AS mu, count(*) AS n FROM turns GROUP BY conv_id),
 ch AS (SELECT g.conv_id,
               (sum(g.ni * pow(g.ci - t.mu, 2)) / nullif(count(*) - 1.0, 0))
               / nullif(sum(g.ssw_i) / nullif(max(t.n) - count(*) * 1.0, 0), 0) AS ch
        FROM g JOIN tot t ON g.conv_id = t.conv_id
        GROUP BY g.conv_id),
 db AS (SELECT conv_id, avg(worst) AS vdb
        FROM (SELECT a.conv_id, a.role,
                     max((a.si + b.si) / nullif(abs(a.ci - b.ci), 0)) AS worst
              FROM g a JOIN g b
                ON a.conv_id = b.conv_id AND a.role <> b.role
              GROUP BY a.conv_id, a.role)
        GROUP BY conv_id)""",
)


@register("mf_clustering_idx", oracle=_CLUSTIDX_ORACLE, group=GROUP)
def mf_clustering_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz + Davies-Bouldin over (text_len | role), 1-D.

    ch = (SSB/(k-1))/(SSW/(n-k)) — clustering.py:851-875 semantics.
    vdb = mean_i max_{j != i} (s_i+s_j)/d(c_i,c_j) — clustering.py:627-648;
    the k x k centroid pairing is a per-conv self-join of <=4 rows (roles),
    shuffled once on conv_id — never a global cross join.
    """
    t = turns(spark, sf_dir)
    mu_i = F.avg("text_len").over(Window.partitionBy("conv_id", "role"))
    g = (
        t.withColumn("mu_i", mu_i)
        .groupBy("conv_id", "role")
        .agg(
            F.count("*").alias("ni"),
            F.avg("text_len").alias("ci"),
            F.avg(F.abs(F.col("text_len") - F.col("mu_i"))).alias("si"),
            F.sum(F.pow(F.col("text_len") - F.col("mu_i"), 2)).alias("ssw_i"),
        )
    )
    tot = t.groupBy("conv_id").agg(
        F.avg("text_len").alias("mu"), F.count("*").alias("n")
    )
    k = F.count("*")
    ch = (
        g.join(tot, "conv_id")
        .groupBy("conv_id")
        .agg(
            (
                (F.sum(F.col("ni") * F.pow(F.col("ci") - F.col("mu"), 2)))
                / F.nullif(k - F.lit(1.0), F.lit(0.0))
                / F.nullif(
                    F.sum("ssw_i")
                    / F.nullif(F.max("n") - k * F.lit(1.0), F.lit(0.0)),
                    F.lit(0.0),
                )
            ).alias("ch")
        )
    )
    a, b = g.alias("a"), g.alias("b")
    pair = a.join(
        b,
        (F.col("a.conv_id") == F.col("b.conv_id"))
        & (F.col("a.role") != F.col("b.role")),
    )
    worst = pair.groupBy(F.col("a.conv_id").alias("conv_id"), F.col("a.role")).agg(
        F.max(
            (F.col("a.si") + F.col("b.si"))
            / F.nullif(F.abs(F.col("a.ci") - F.col("b.ci")), F.lit(0.0))
        ).alias("worst")
    )
    db = worst.groupBy("conv_id").agg(F.avg("worst").alias("vdb"))
    return ch.join(db, "conv_id").select(
        "conv_id", r("ch").alias("ch"), r("vdb").alias("vdb")
    )


# ---------------------------------------------------------------------
# itemset group (long outputs)
# ---------------------------------------------------------------------

_ONEITEM_ORACLE = with_transcripts_cte(
    f"""
SELECT conv_id, item, round(p, 6) AS support
FROM ({freq_sql(class_counts_sql("transcripts", "role AS item"))})
"""
)


@register(
    "mf_itemset_one",
    oracle=_ONEITEM_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def mf_itemset_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """one_itemset: per-value relative frequency of the binarized class
    column (itemset.py:151-190; binarization 84-96) — long format."""
    counts = class_counts(transcripts(spark, sf_dir), F.col("role").alias("item"))
    return freq(counts).select("conv_id", "item", r("p").alias("support"))


# XOR support (|A| + |B| - 2|A and B|) / n of every (role, tool0) pair
# from the joint counts; mf_itemset_two's and the itemset check's oracle
XOR_SUPPORT_CTES = f"""{JOINT_CTES},
 xor AS (SELECT ca.conv_id, ca.role AS item_a, cb.tool0 AS item_b,
                (ca.c + cb.c - 2 * coalesce(jc.c, 0)) * 1.0 / ca.n AS s
         FROM ca JOIN cb ON ca.conv_id = cb.conv_id
         LEFT JOIN jc ON ca.conv_id = jc.conv_id AND cb.tool0 = jc.tool0
                     AND ca.role IS NOT DISTINCT FROM jc.role)"""

_TWOITEM_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, item_a, item_b, round(s, 6) AS support_xor FROM xor
""",
    extra_ctes=XOR_SUPPORT_CTES,
)


@register(
    "mf_itemset_two",
    oracle=_TWOITEM_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def mf_itemset_two(spark: SparkSession, sf_dir: str) -> DataFrame:
    """two_itemset: XOR support |A xor B| / n for every (role value,
    tool value) pair (itemset.py:99-148) — computed from marginal and
    joint counts, support_xor = (|A| + |B| - 2|A and B|)/n. One scan and
    one conv_id shuffle: the marginals fold from the joint counts as
    windows, and each role (a null one too) crosses its conversation's tools."""
    t2 = transcripts(spark, sf_dir).select("conv_id", "role", tool0())
    w = (
        freq(class_counts(t2, "role", "tool0"))
        .withColumn("ca", F.sum("c").over(Window.partitionBy("conv_id", "role")))
        .withColumn("cb", F.sum("c").over(Window.partitionBy("conv_id", "tool0")))
        .withColumn("tools", F.collect_set(F.struct("tool0", "cb")).over(_conv_w()))
    )
    # one row per role: its joint count by tool0 and the conversation's tools
    roles = w.groupBy("conv_id", "role").agg(
        F.max("ca").alias("ca"),
        F.max("n").alias("n"),
        F.map_from_entries(F.collect_list(F.struct("tool0", "c"))).alias("cab"),
        F.first("tools").alias("tools"),
    )
    cab = F.coalesce(F.col("cab")[F.col("b.tool0")], F.lit(0))
    xor = F.col("ca") + F.col("b.cb") - 2 * cab
    return roles.select("*", F.explode("tools").alias("b")).select(
        "conv_id",
        F.col("role").alias("item_a"),
        F.col("b.tool0").alias("item_b"),
        r(xor / F.col("n")).alias("support_xor"),
    )


# ---------------------------------------------------------------------
# summary layer: quantiles / histogram / powersum-pnorm
# ---------------------------------------------------------------------

_QUANT_ORACLE = with_transcripts_cte(
    """
SELECT conv_id,
       round(quantile_cont(text_len, 0.00), 6) AS q_0,
       round(quantile_cont(text_len, 0.25), 6) AS q_25,
       round(quantile_cont(text_len, 0.50), 6) AS q_50,
       round(quantile_cont(text_len, 0.75), 6) AS q_75,
       round(quantile_cont(text_len, 1.00), 6) AS q_100
FROM turns GROUP BY conv_id
""",
    extra_ctes=TURNS_SQL,
)


@register(
    "summary_quantiles",
    oracle=_QUANT_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def summary_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantiles summary (0, .25, .5, .75, 1), linear interpolation —
    _summary.py:62-143; Spark `percentile` and numpy `quantile` share
    the same interpolation."""
    t = turns(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        *[
            r(F.percentile("text_len", p)).alias(f"q_{int(p * 100)}")
            for p in (0.0, 0.25, 0.5, 0.75, 1.0)
        ]
    )


_HIST_BINS = 10
_HIST_CASES = ",\n       ".join(
    f"round(sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS hist_{i}"
    for i in range(_HIST_BINS)
)
_HIST_ORACLE = with_transcripts_cte(
    f"""
SELECT conv_id,
       {_HIST_CASES}
FROM (SELECT conv_id,
             CASE WHEN mx = mn THEN 0
                  ELSE least(cast(floor((text_len - mn) / (mx - mn) * {_HIST_BINS})
                             AS int), {_HIST_BINS - 1}) END AS bin
      FROM (SELECT conv_id, text_len,
                   min(text_len) OVER (PARTITION BY conv_id) AS mn,
                   max(text_len) OVER (PARTITION BY conv_id) AS mx
            FROM turns))
GROUP BY conv_id
""",
    extra_ctes=TURNS_SQL,
)


@register(
    "summary_histogram",
    oracle=_HIST_ORACLE, group=GROUP,
    gate_oracle=False,  # rotated out of the gate in r4 (long-green r1-r3); pytest enforces
)
def summary_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram summary: 10 equal-width bins, normalized counts
    (_summary.py:26-59 — np.histogram semantics: right-open bins, last
    bin closed == floor-clamp)."""
    t = turns(spark, sf_dir).select("conv_id", "text_len")
    t = t.withColumn("mn", F.min("text_len").over(_conv_w())).withColumn(
        "mx", F.max("text_len").over(_conv_w())
    )
    bin_col = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("text_len") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * _HIST_BINS
            ).cast("int"),
            F.lit(_HIST_BINS - 1),
        )
    )
    binned = t.withColumn("bin", bin_col)
    return binned.groupBy("conv_id").agg(
        *[
            r(
                F.sum(F.when(F.col("bin") == i, 1).otherwise(0)) / F.count("*")
            ).alias(f"hist_{i}")
            for i in range(_HIST_BINS)
        ]
    )


_POWER_ORACLE = with_transcripts_cte(
    """
SELECT conv_id,
       round(sum(text_len), 6)                AS sum_x,
       round(sum(pow(text_len, 2)), 6)        AS powersum_2,
       round(sqrt(sum(pow(text_len, 2))), 6)  AS pnorm_2
FROM turns GROUP BY conv_id
""",
    extra_ctes=TURNS_SQL,
)


@register("summary_powersum", oracle=_POWER_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def summary_powersum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum / powersum(p=2) / pnorm(p=2) summaries (_summary.py:356-444)."""
    t = turns(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        r(F.sum("text_len")).alias("sum_x"),
        r(F.sum(F.pow("text_len", 2))).alias("powersum_2"),
        r(F.sqrt(F.sum(F.pow("text_len", 2)))).alias("pnorm_2"),
    )


# ---------------------------------------------------------------------
# gravity: distance between majority / minority class centroids
# (/root/reference/pymfe/statistical.py:305-407)
# ---------------------------------------------------------------------

_GRAVITY_ORACLE = with_transcripts_cte(
    """
SELECT maj.conv_id,
       round(sqrt(pow(maj.c_len - mino.c_len, 2)
                + pow(maj.c_gap - mino.c_gap, 2)), 6) AS gravity
FROM
 (SELECT * FROM ranked WHERE rk_maj = 1) maj
JOIN
 (SELECT * FROM ranked2 WHERE rk_min = 1) mino
ON maj.conv_id = mino.conv_id
""",
    extra_ctes=TURNS_SQL
    + """,
 cent AS (SELECT conv_id, role, count(*) AS c,
                 avg(text_len) AS c_len,
                 avg(coalesce(ts_delta_s, 0.0)) AS c_gap
          FROM turns GROUP BY conv_id, role),
 ranked AS (SELECT *,
                   row_number() OVER (PARTITION BY conv_id
                                      ORDER BY c DESC, role ASC) AS rk_maj
            FROM cent),
 ranked2 AS (SELECT *,
                    row_number() OVER (PARTITION BY conv_id
                                       ORDER BY c ASC, role ASC) AS rk_min
             FROM ranked WHERE rk_maj > 1)""",
)


@register(
    "mf_gravity",
    oracle=_GRAVITY_ORACLE,
    group=GROUP,
    gate_oracle=False,  # r5 rotation out: recorded 4/4 rounds; pytest enforces
)
def mf_gravity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean distance between majority- and minority-class centroids
    in the (text_len, ts_delta_s) plane — statistical.py:305-407, with
    deterministic tie-breaking (count, then role name) instead of the
    reference's argmax order."""
    t = turns(spark, sf_dir)
    cent = t.groupBy("conv_id", "role").agg(
        F.count("*").alias("c"),
        F.avg("text_len").alias("c_len"),
        F.avg(F.coalesce("ts_delta_s", F.lit(0.0))).alias("c_gap"),
    )
    ranked = cent.withColumn(
        "rk_maj",
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy(F.desc("c"), F.asc("role"))
        ),
    )
    # minority chosen among the non-majority classes (tie-safe)
    ranked2 = ranked.filter(F.col("rk_maj") > 1).withColumn(
        "rk_min",
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy(F.asc("c"), F.asc("role"))
        ),
    )
    maj = ranked.filter(F.col("rk_maj") == 1).select(
        "conv_id", F.col("c_len").alias("maj_len"), F.col("c_gap").alias("maj_gap")
    )
    mino = ranked2.filter(F.col("rk_min") == 1).select(
        "conv_id", F.col("c_len").alias("min_len"), F.col("c_gap").alias("min_gap")
    )
    return maj.join(mino, "conv_id").select(
        "conv_id",
        r(
            F.sqrt(
                F.pow(F.col("maj_len") - F.col("min_len"), 2)
                + F.pow(F.col("maj_gap") - F.col("min_gap"), 2)
            )
        ).alias("gravity"),
    )
