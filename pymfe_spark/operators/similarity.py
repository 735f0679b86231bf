"""Embedding similarity search and embedding near-duplicate detection
over the ``embeddings`` table (array<float> x 64), as ONE two-stage
pipeline.

A **candidate stage** emits ``(query_id, neighbor_id, cos)`` rows
(top-k search over the first N_QUERIES vectors) or ``(id_a, id_b)``
pairs (near-dup). ONE shared final stage follows: the exact top-k rerank
``_topk`` (row_number by cos desc, neighbor_id asc) or the pair verify
``_verify_pairs`` (join back to the vectors, keep rounded cosine >=
EMB_DEDUP_TAU). Every catalog query is a configuration of that pipeline:

====================================  =====================================  ==========
query                                 candidate stage                        final
====================================  =====================================  ==========
sim_topk_bruteforce                   every vector, query side broadcast     top-5
sim_lsh_topk                          1 plane table (seed 7), multi-probe    top-3
                                      Hamming <= 2
sim_ivf_topk                          label centroids, spill 2, nprobe 2;    top-5
                                      distinct over spilled copies
sim_kmeans_ivf_topk (kmeans.py)       k-means lists (k=16), nprobe 2         top-5
dedup_embedding_lsh                   bucket self-join, 1 table              verify
dedup_embedding_cosine                union of bucket self-joins, 2 tables   verify
                                      (seeds 7, 11)
dedup_embedding_cosine_exact (test)   all pairs id_a < id_b                  verify
sim_lsh_buckets                       the bucket expression itself           —
====================================  =====================================  ==========

Buckets are random-hyperplane signs: 8 literal planes -> 256 buckets
(``_bucket_col``). The planes are literal constants, so the DuckDB
oracles — built from the twin pieces ``_bucket_cte``, ``_topk_sql`` and
``_VERIFY_SQL`` — replicate every bucket, candidate and rank
bit-for-bit. Dot products are JVM-side ``zip_with``/``aggregate`` over
double-cast arrays (no UDF).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.plans.catalog import register

GROUP = "similarity"

N_QUERIES = 10
TOP_K = 5

_DIM = 64
_N_PLANES = 8
_PLANES = np.round(np.random.RandomState(7).randn(_N_PLANES, _DIM), 6)
# second, independent hyperplane table for multi-table LSH candidate
# generation (dedup_embedding_cosine): a pair missed by one table's
# buckets is recovered when the other table agrees on all 8 signs
_PLANES2 = np.round(np.random.RandomState(11).randn(_N_PLANES, _DIM), 6)
# multi-probe XOR masks (Lv et al., VLDB'07): the query's own bucket,
# the 8 Hamming-1 and the 28 Hamming-2 neighbours — 37 of 256 buckets
_PROBES = (
    [0]
    + [1 << j for j in range(_N_PLANES)]
    + [(1 << i) | (1 << j) for i in range(_N_PLANES) for j in range(i + 1, _N_PLANES)]
)

EMB_DEDUP_TAU = 0.40  # synthetic embeddings top out near cos ~0.6

IVF_NPROBE = 2
# multi-assignment spill (round-4): each vector is indexed into its
# IVF_SPILL nearest-CENTROID lists instead of its raw label list. The
# raw-label assignment wasted the probe budget on list-membership
# mismatch (a vector cosine-closer to another label's centroid was
# invisible to probes of that centroid): recall@3 at nprobe=2 measured
# 0.30 label-assigned vs 0.60 nearest-centroid vs 0.733 with spill=2 —
# same probe count, 2x list storage (the standard IVF spill tradeoff).
IVF_SPILL = 2


# ---------------------------------------------------------------------
# shared Spark pieces
# ---------------------------------------------------------------------


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _bucket_col(v: Column, planes: np.ndarray = _PLANES) -> Column:
    """Sign-bucket id of a vector under a fixed hyperplane table."""
    return sum(
        F.when(_dot(v, F.array(*[F.lit(float(x)) for x in p])) > 0, F.lit(2**j))
        .otherwise(F.lit(0))
        for j, p in enumerate(planes)
    ).cast("int")


def _queries(e: DataFrame, *extra: Column) -> DataFrame:
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), *extra
    )


def _ranked(df: DataFrame, by: str, order: list[Column], n: int) -> DataFrame:
    """The first ``n`` rows of each ``by`` group under ``order``, with
    their 1-based rank in column ``rk``."""
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= n)


def _topk(sims: DataFrame, k: int) -> DataFrame:
    """The exact rerank every top-k query ends with: ``(query_id,
    neighbor_id, cos)`` candidates -> the k best per query, ties broken
    by neighbor id."""
    return _ranked(sims, "query_id", [F.desc("cos"), F.asc("neighbor_id")], k).select(
        "query_id", "neighbor_id", F.col("rk").cast("int"), r(F.col("cos"), 4).alias("cos")
    )


def _verify_pairs(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """The exact check every near-dup query ends with: ``(id_a, id_b)``
    candidates joined back to both vectors (two id equi-joins), kept
    when the 4-dp rounded cosine reaches EMB_DEDUP_TAU."""
    e = _emb(spark, sf_dir)
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    cos = r(_cos(F.col("va"), F.col("vb")), 4)
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= EMB_DEDUP_TAU)
    )


# ---------------------------------------------------------------------
# shared SQL pieces (DuckDB oracle twins of the Spark pieces above)
# ---------------------------------------------------------------------

_E_CTE = "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"


def _planes_sql(planes: np.ndarray) -> str:
    rows = ", ".join("[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes)
    return f"[{rows}]"


def _bucket_cte(name: str, planes: np.ndarray = _PLANES) -> str:
    """``name(vec_id, v, bucket)``: twin of ``_bucket_col``."""
    return f"""{name} AS (
   SELECT vec_id, v,
          list_aggregate(
            list_transform(range(1, {_N_PLANES + 1}),
              j -> CASE WHEN list_inner_product(e.v, ps[j]) > 0
                        THEN cast(pow(2, j - 1) AS bigint) ELSE 0 END),
            'sum') AS bucket
   FROM e, (SELECT {_planes_sql(planes)} AS ps) planes)"""


def _topk_sql(k: int) -> str:
    """Twin of ``_topk`` over a ``sims(query_id, neighbor_id, cos)`` CTE."""
    return f"""
SELECT query_id, neighbor_id, cast(rk AS int) AS rk, round(cos, 4) AS cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id ASC) AS rk
      FROM sims)
WHERE rk <= {k}
"""


# twin of ``_verify_pairs`` over a ``cand(id_a, id_b)`` CTE
_VERIFY_SQL = f"""
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
FROM cand c
JOIN e ea ON c.id_a = ea.vec_id
JOIN e eb ON c.id_b = eb.vec_id
WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= {EMB_DEDUP_TAU}
"""


# ---------------------------------------------------------------------
# top-k search: candidate stages + configurations
# ---------------------------------------------------------------------


def bruteforce_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (query, vector) pair: the query side is broadcast (Q << N
    always) and the base table streams through once — O(Q x N)."""
    e = _emb(spark, sf_dir)
    j = e.join(F.broadcast(_queries(e)), F.col("vec_id") != F.col("query_id"))
    return j.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cos(F.col("qv"), F.col("v")).alias("cos")
    )


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors in the query's own bucket or one of its 36 Hamming <= 2
    neighbours (round 4: the second probe radius raised recall@3 from
    0.133 to 0.367 on the near-isotropic fixture at 37 tiny bucket
    lookups instead of 37 hash tables). A bucket equi-join against the
    exploded 37-row probe list per query, never a cross join."""
    e = _emb(spark, sf_dir)
    b = e.select("vec_id", "v", _bucket_col(F.col("v")).alias("bucket"))
    probes = F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _PROBES]))
    j = b.join(F.broadcast(_queries(b, probes.alias("bucket"))), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return j.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cos(F.col("qv"), F.col("v")).alias("cos")
    )


def ivf_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors in the query's IVF_NPROBE nearest inverted lists, where
    the lists are the per-label centroids (the embedding_label_centroids
    building block) and each vector is INDEXED into its IVF_SPILL
    nearest-centroid lists (see IVF_SPILL). Centroids are k x 64 rows ->
    broadcast; the scan join is an equi-join on list id, so at scale the
    lists shard by list id and only probed shards are read."""
    e = _emb(spark, sf_dir)
    exploded = e.select("label", F.posexplode("v").alias("i", "x"))
    clists = (
        exploded.groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"],
            ).alias("cv")
        )
        # e carries its own label column; rename the centroid key before
        # the cross joins so references stay unambiguous
        .select(F.col("label").alias("list_id"), "cv")
    )

    def nearest_lists(df: DataFrame, by: str, v: str, n: int) -> DataFrame:
        # rank on the 12-dp-rounded cosine (mirrored in the oracle): raw
        # float ordering is tie-sensitive at the rank boundary, and
        # cross-engine reassociation noise (~1e-15) could flip a near-tie
        # assignment between Spark and DuckDB (ADVICE r4)
        cos = F.round(_cos(F.col(v), F.col("cv")), 12)
        return _ranked(
            df.crossJoin(F.broadcast(clists)), by, [F.desc(cos), F.asc("list_id")], n
        )

    assign = nearest_lists(e, "vec_id", "v", IVF_SPILL).select("vec_id", "v", "list_id")
    probed = nearest_lists(_queries(e), "query_id", "qv", IVF_NPROBE).select(
        "query_id", "qv", "list_id"
    )
    scan = probed.join(assign, "list_id").filter(F.col("vec_id") != F.col("query_id"))
    # spilled copies of a (query, neighbor) pair carry identical cos
    # (same two vectors) -> distinct collapses them before the top-k
    return scan.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cos(F.col("qv"), F.col("v")).alias("cos")
    ).distinct()


_TOPK_ORACLE = f"""
WITH {_E_CTE},
 q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
 sims AS (
   SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          list_cosine_similarity(q.v, e.v) AS cos
   FROM q JOIN e ON q.vec_id <> e.vec_id)
{_topk_sql(TOP_K)}"""


@register("sim_topk_bruteforce", oracle=_TOPK_ORACLE, group=GROUP)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 vectors — the
    correctness baseline. Oracle: DuckDB list_cosine_similarity."""
    return _topk(bruteforce_candidates(spark, sf_dir), TOP_K)


_LSH_TOPK_ORACLE = f"""
WITH {_E_CTE}, {_bucket_cte("b")},
 probes AS (
   SELECT vec_id AS query_id, v AS qv,
          unnest(list_transform({_PROBES}, m -> xor(bucket, m))) AS probe
   FROM b WHERE vec_id < {N_QUERIES}),
 sims AS (
   SELECT p.query_id, b.vec_id AS neighbor_id,
          list_cosine_similarity(p.qv, b.v) AS cos
   FROM probes p JOIN b ON p.probe = b.bucket AND b.vec_id <> p.query_id)
{_topk_sql(3)}"""


@register("sim_lsh_topk", oracle=_LSH_TOPK_ORACLE, group=GROUP)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via multi-probe LSH. Recall floors vs
    brute force are pinned at sf0.1 in tests/test_ann_recall.py."""
    return _topk(lsh_candidates(spark, sf_dir), 3)


_IVF_ORACLE = f"""
WITH {_E_CTE},
 cent AS (
   SELECT label, i, avg(e) AS c
   FROM (SELECT label, unnest(embedding::DOUBLE[]) AS e,
                generate_subscripts(embedding, 1) AS i
         FROM embeddings)
   GROUP BY label, i),
 cvec AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
 assign AS (
   SELECT vec_id, v, list_id FROM (
     SELECT e.vec_id, e.v, cvec.label AS list_id,
            row_number() OVER (
              PARTITION BY e.vec_id
              ORDER BY round(list_cosine_similarity(e.v, cv), 12) DESC,
                       cvec.label ASC) AS ark
     FROM e CROSS JOIN cvec)
   WHERE ark <= {IVF_SPILL}),
 q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
 probes AS (
   SELECT query_id, label,
          row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(list_cosine_similarity(qv, cv), 12) DESC, label ASC) AS prk
   FROM q CROSS JOIN cvec),
 probed AS (SELECT query_id, label FROM probes WHERE prk <= {IVF_NPROBE}),
 sims AS (
   SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, a.v) AS cos
   FROM q JOIN probed p ON q.query_id = p.query_id
        JOIN assign a ON a.list_id = p.label AND a.vec_id <> q.query_id)
{_topk_sql(TOP_K)}"""


@register("sim_ivf_topk", oracle=_IVF_ORACLE, group=GROUP)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 over label-centroid inverted lists with
    multi-assignment (spill 2, nprobe 2); spill multiplies storage by
    IVF_SPILL, not scan cost — the probe budget is unchanged."""
    return _topk(ivf_candidates(spark, sf_dir), TOP_K)


_BUCKET_ORACLE = f"""
WITH {_E_CTE}, {_bucket_cte("b")}
SELECT vec_id, cast(bucket AS int) AS bucket,
       cast(count(*) OVER (PARTITION BY bucket) AS bigint) AS bucket_size
FROM b
"""


@register("sim_lsh_buckets", oracle=_BUCKET_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (8 planes -> 256
    buckets); bucket sizes evidence the partition balance."""
    b = _emb(spark, sf_dir).select("vec_id", _bucket_col(F.col("v")).alias("bucket"))
    return b.select(
        "vec_id",
        "bucket",
        F.count("*").over(Window.partitionBy("bucket")).alias("bucket_size"),
    )


# simpler, equivalent oracle (per-label per-dim mean, then norm)
_CENTROID_ORACLE = """
SELECT label,
       cast(max(n_vecs) AS bigint)  AS n_vecs,
       round(sqrt(sum(c * c)), 6)   AS centroid_norm
FROM (SELECT label, i, avg(e) AS c, count(DISTINCT vec_id) AS n_vecs
      FROM (SELECT label, vec_id,
                   unnest(embedding::DOUBLE[]) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
      GROUP BY label, i)
GROUP BY label
"""


@register("embedding_label_centroids", oracle=_CENTROID_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm (IVF coarse quantizer building block):
    posexplode -> (label, dim) partial aggregation -> norm. The
    (label, dim) key keeps the shuffle narrow (k x 64 rows) however
    large the input."""
    e = _emb(spark, sf_dir)
    exploded = e.select("label", "vec_id", F.posexplode("v").alias("i", "x"))
    cent = exploded.groupBy("label", "i").agg(
        F.avg("x").alias("c"), F.count_distinct("vec_id").alias("n_vecs")
    )
    return cent.groupBy("label").agg(
        F.max("n_vecs").alias("n_vecs"),
        r(F.sqrt(F.sum(F.col("c") * F.col("c")))).alias("centroid_norm"),
    )


# ---------------------------------------------------------------------
# embedding near-dup: pair candidate stages + configurations
# ---------------------------------------------------------------------


def bucket_pairs(
    spark: SparkSession, sf_dir: str, tables: tuple[np.ndarray, ...] = (_PLANES,)
) -> DataFrame:
    """``(id_a, id_b)`` pairs that share a sign bucket under ANY of the
    hyperplane tables: one bucket equi-self-join per table (O(n ·
    avg_bucket) pairs, never O(n²)), union, distinct. Each extra table
    roughly squares the miss probability."""
    e = _emb(spark, sf_dir)

    def pairs(planes: np.ndarray) -> DataFrame:
        b = e.select("vec_id", _bucket_col(F.col("v"), planes).alias("bucket"))
        x, y = b.alias("x"), b.alias("y")
        return x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        ).select(F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b"))

    return reduce(DataFrame.union, map(pairs, tables)).distinct()


def _bucket_pairs_oracle(*tables: np.ndarray) -> str:
    names = [f"b{t}" for t in range(len(tables))]
    buckets = ", ".join(_bucket_cte(n, p) for n, p in zip(names, tables))
    cand = "\n   UNION\n   ".join(
        f"SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM {n} x JOIN {n} y "
        "ON x.bucket = y.bucket AND x.vec_id < y.vec_id"
        for n in names
    )
    return f"WITH {_E_CTE}, {buckets},\n cand AS (\n   {cand})\n{_VERIFY_SQL}"


def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact near-dup truth source — O(n²) BY CONSTRUCTION
    (BroadcastNestedLoopJoin on id_a < id_b), so it is NOT in the query
    catalog; tests use it to measure the catalog variants' recall."""
    ids = _emb(spark, sf_dir).select("vec_id")
    cand = ids.select(F.col("vec_id").alias("id_a")).join(
        ids.select(F.col("vec_id").alias("id_b")), F.col("id_a") < F.col("id_b")
    )
    return _verify_pairs(spark, sf_dir, cand)


@register(
    "dedup_embedding_lsh",
    oracle=_bucket_pairs_oracle(_PLANES),
    group="dedup",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs from single-table sign-LSH candidates.
    Deterministic hyperplanes -> the recall loss vs the exact variant is
    identical in both engines and results still hash-match."""
    return _verify_pairs(spark, sf_dir, bucket_pairs(spark, sf_dir))


@register(
    "dedup_embedding_cosine",
    oracle=_bucket_pairs_oracle(_PLANES, _PLANES2),
    gate_oracle=False,  # r5 rotation out: recorded 4/4 rounds; pytest enforces
    group="dedup",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs from TWO independent sign-LSH tables
    (seeds 7 and 11): a pair is a candidate if either table agrees on
    all 8 signs. The plan audit bans BNLJ from every catalog query, so
    the O(n²) all-pairs shape (dedup_embedding_cosine_exact) cannot
    silently return."""
    return _verify_pairs(spark, sf_dir, bucket_pairs(spark, sf_dir, (_PLANES, _PLANES2)))
