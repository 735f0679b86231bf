"""Distributed spherical k-means (Lloyd) over the embeddings table —
the learned coarse quantizer for IVF ANN (the label-based inverted
lists in operators/similarity.py are the fixed-partition variant; this
is the general one a 100 TB embedding corpus needs).

The learned-IVF search is one configuration of similarity.py's
candidate -> exact-rerank pipeline (see the table there):
``kmeans_ivf_candidates`` is its candidate stage (k-means lists, k=16,
nprobe 2, unit-vector dot) and the shared ``_topk`` its final stage.

Spark-first shape: the MODEL (k x 64 centroids) lives on the driver —
collecting it is collecting the model, not the data — while every
data-sized step is a DataFrame op:

- assignment: the k cosine scores are literal-centroid dot products
  (JVM-side zip_with/aggregate folds, no UDF); argmax via
  array_position(array_max) with a deterministic first-max tie break.
- update: posexplode -> (cluster, dim) partial mean — the same narrow
  shuffle as embedding_label_centroids; new centroids are k x 64 rows.
- iterate: a driver loop over a fixed iteration count; each iteration
  is one job. At scale each pass is one scan + one narrow shuffle.

Determinism: seeds are the k smallest vec_ids' vectors; ties break to
the first maximal score. Distributed float summation order can perturb
centroid means at ~1e-16 — tests assert the Lloyd invariant (inertia
non-increasing) and IVF recall, not bitwise centroid equality, and the
operator has no DuckDB twin (iterative, driver-looped) -> rows-gated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.operators.similarity import N_QUERIES, TOP_K, _dot, _emb, _norm, _topk
from pymfe_spark.plans.catalog import register

GROUP = "similarity"

KMEANS_K = 16
KMEANS_ITERS = 5
KMEANS_NPROBE = 2


def _unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings L2-normalized once (spherical k-means: cosine ==
    dot of unit vectors)."""
    e = _emb(spark, sf_dir)
    nrm = _norm(F.col("v"))
    return e.select(
        "vec_id",
        "label",
        F.transform("v", lambda x: x / nrm).alias("u"),
    )


def _score_array(ucol: Column, centroids: list[list[float]]) -> Column:
    return F.array(
        *[
            _dot(ucol, F.array(*[F.lit(float(x)) for x in c]))
            for c in centroids
        ]
    )


def _assign_col(ucol: Column, centroids: list[list[float]]) -> Column:
    """argmax over the k centroid dots; first-max tie break
    (array_position is 1-based)."""
    scores = _score_array(ucol, centroids)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    return_history: bool = False,
):
    """Lloyd iterations; returns the k centroids (driver-side model),
    optionally with the per-iteration spherical inertia
    sum(1 - best_cos) — the Lloyd monotonicity witness. Each iteration:
    one scan -> assignment expression -> posexplode -> (cluster, dim)
    partial-agg mean -> collect k x d rows.

    The fitted model is memoized per (sf_dir, k, iters) — it is a
    deterministic function of the input, and both catalog queries plus
    the tests would otherwise re-run the Lloyd schedule."""
    key = (sf_dir, k, iters)
    if key in _MODEL_CACHE:
        centroids, history = _MODEL_CACHE[key]
        return (centroids, history) if return_history else centroids
    u = _unit(spark, sf_dir).persist()
    seeds = (
        u.orderBy("vec_id").limit(k).select("u").collect()
    )
    centroids = [list(row["u"]) for row in seeds]
    history: list[float] = []
    for _ in range(iters):
        scores = _score_array(F.col("u"), centroids)
        assigned = u.select(
            _assign_col(F.col("u"), centroids).alias("cluster"),
            "u",
            (1.0 - F.array_max(scores)).alias("loss"),
        )
        agg = (
            assigned.select(
                "cluster", "loss", F.posexplode("u").alias("i", "x")
            )
            .groupBy("cluster", "i")
            .agg(
                F.avg("x").alias("c"),
                F.sum("loss").alias("loss_sum"),
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "c"))),
                    lambda s: s["c"],
                ).alias("cv"),
                # loss replicated per dim; take one dim's sum
                F.max(F.when(F.col("i") == 0, F.col("loss_sum"))).alias(
                    "loss"
                ),
            )
            .collect()
        )
        def _renorm(c: list[float]) -> list[float]:
            # spherical k-means: the mean of unit vectors is
            # re-normalized so argmax-of-dots stays argmax-of-cosine
            # (the Lloyd monotonicity guarantee needs unit centroids)
            n2 = sum(x * x for x in c) ** 0.5
            return [x / n2 for x in c] if n2 > 0 else c

        new = {row["cluster"]: _renorm(list(row["cv"])) for row in agg}
        history.append(float(sum(row["loss"] or 0.0 for row in agg)))
        # empty clusters keep their previous centroid
        centroids = [new.get(j, centroids[j]) for j in range(k)]
    u.unpersist()
    _MODEL_CACHE[key] = (centroids, history)
    return (centroids, history) if return_history else centroids


_MODEL_CACHE: dict = {}


@register("kmeans_assign", oracle=None, group=GROUP)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster id + cosine-to-centroid per vector after the
    fixed Lloyd schedule (k=16, 5 iterations). Rows-gated (iterative /
    driver-looped — no SQL twin); the Lloyd inertia invariant and the
    IVF recall are pytest-asserted."""
    centroids = kmeans_fit(spark, sf_dir)
    u = _unit(spark, sf_dir)
    scores = _score_array(F.col("u"), centroids)
    return u.select(
        "vec_id",
        _assign_col(F.col("u"), centroids).alias("cluster"),
        r(F.array_max(scores), 4).alias("cos_to_centroid"),
    )


def kmeans_ivf_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors in the query's KMEANS_NPROBE highest-scoring k-means
    clusters, scored by the unit-vector dot (equi-join on cluster id —
    at scale the lists shard by cluster and only probed shards are
    read)."""
    centroids = kmeans_fit(spark, sf_dir)
    u = _unit(spark, sf_dir)
    base = u.select(
        "vec_id", "u", _assign_col(F.col("u"), centroids).alias("cluster")
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    # probe list per query: top-nprobe centroid ids by score (a k-wide
    # literal expression -> explode; no join needed for the model side)
    scores = _score_array(F.col("qu"), centroids)
    probes = q.select(
        "query_id",
        "qu",
        F.explode(
            F.slice(
                F.reverse(
                    F.array_sort(
                        F.array(
                            *[
                                F.struct(
                                    F.element_at(scores, j + 1).alias("s"),
                                    F.lit(j).alias("j"),
                                )
                                for j in range(len(centroids))
                            ]
                        )
                    )
                ),
                1,
                KMEANS_NPROBE,
            )
        ).alias("p"),
    ).select("query_id", "qu", F.col("p.j").alias("cluster"))
    scan = probes.join(base, "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return scan.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _dot(F.col("qu"), F.col("u")).alias("cos"),
    )


@register("sim_kmeans_ivf_topk", oracle=None, group=GROUP)
def sim_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over LEARNED inverted lists: the k-means clusters replace
    the label lists of sim_ivf_topk; the shared exact top-5 rerank
    follows. Rows-gated; recall vs the exact brute force is
    pytest-asserted."""
    return _topk(kmeans_ivf_candidates(spark, sf_dir), TOP_K)
