"""Quality checks for the approximate dedup/similarity operators:
MinHash estimates must track exact Jaccard; LSH buckets must be
internally consistent and recall real neighbors; SimHash must map
near-identical docs to nearby hashes."""

from __future__ import annotations

import itertools

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pymfe_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from pymfe_spark.operators.similarity import (
    sim_lsh_buckets,
    sim_lsh_topk,
    sim_topk_bruteforce,
)
from tests.conftest import SF_SMOKE


def test_minhash_estimates_track_exact_jaccard(spark):
    """For pairs found by both paths, |est - exact| must be within the
    k=16 MinHash standard error (~1/sqrt(16) = 0.25) on average."""
    exact = dedup_ngram_jaccard(spark, SF_SMOKE).toPandas()
    est = dedup_minhash_lsh(spark, SF_SMOKE).toPandas()
    merged = exact.merge(est, on=["doc_a", "doc_b"], how="inner")
    assert len(merged) > 0, "no overlapping candidate pairs"
    err = np.abs(merged["jaccard"] - merged["est_jaccard"])
    assert err.mean() < 0.25, f"minhash bias too large: {err.mean()}"
    # every high-jaccard pair must be recalled by LSH (1-row bands,
    # collision prob 1-(1-s)^16; s>=0.3 -> >99.6%)
    hot = exact[exact["jaccard"] >= 0.3]
    if len(hot):
        found = hot.merge(est, on=["doc_a", "doc_b"], how="inner")
        assert len(found) == len(hot)


def test_minhash_detects_planted_duplicates(spark):
    """Plant near-duplicate docs; MinHash must surface them with high
    estimated jaccard."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1000, base),
        (1001, base + "extra tail words here"),
        (1002, "completely different content " + "unrelated tokens " * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet("/tmp/planted_docs/documents.parquet")
    est = dedup_minhash_lsh(spark, "/tmp/planted_docs").toPandas()
    pair = est[(est.doc_a == 1000) & (est.doc_b == 1001)]
    assert len(pair) == 1, "planted near-dup not recalled"
    assert pair.iloc[0]["est_jaccard"] >= 0.5
    assert not ((est.doc_a == 1000) & (est.doc_b == 1002)).any() or (
        est[(est.doc_a == 1000) & (est.doc_b == 1002)]["est_jaccard"] < 0.3
    ).all()


# MinHash inputs drawn adversarially: arbitrary unicode tokens (accents,
# CJK, emoji, control characters), runs of spaces between and around
# them, and documents with fewer than 4 tokens (no 4-gram at all)
_token = st.text(min_size=1, max_size=8).filter(lambda t: " " not in t)
_gap = st.text(alphabet=" ", min_size=1, max_size=4)
_doc = st.one_of(
    st.text(max_size=40),
    st.tuples(
        st.lists(st.tuples(_gap, _token), max_size=9), st.text(alphabet=" ", max_size=3)
    ).map(lambda d: "".join(g + t for g, t in d[0]) + d[1]),
)
_PROPERTY_RUNS = itertools.count()


@given(docs=st.lists(_doc, min_size=1, max_size=12))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minhash_spark_matches_duckdb_on_random_documents(spark, tmp_path, docs):
    """The Spark MinHash inputs equal their DuckDB oracle twins on random
    documents: ``gram_hash_table`` == ``_gram_cte``'s ``hashed`` rows,
    ``with_band_keys`` exploded to (doc_id, band, bk) == ``_sig_bands_cte``'s
    ``bands`` rows, and the k=16 1-row ``band_table`` of dedup_minhash_lsh
    == ``_sig_bands_cte(MH_A, MH_B, 1)``'s rows. Each example writes its
    own ``documents.parquet``."""
    import duckdb
    import pandas as pd

    from pymfe_spark.operators.dedup import (
        MH_A,
        MH_B,
        _docs,
        _gram_cte,
        _sig_bands_cte,
        band_table,
        gram_hash_table,
        with_band_keys,
    )

    sf = tmp_path / f"run{next(_PROPERTY_RUNS)}"
    sf.mkdir()
    pd.DataFrame(
        {"doc_id": pd.Series(range(len(docs)), dtype="int64"), "text": docs}
    ).to_parquet(sf / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )

    def rows(df: pd.DataFrame) -> list[tuple]:
        return sorted(map(tuple, df.astype("int64").itertuples(index=False)))

    gram_table = gram_hash_table(spark, str(sf))
    grams = gram_table.toPandas()
    hashed = con.execute(f"WITH {_gram_cte()} SELECT doc_id, h FROM hashed").df()
    assert rows(grams) == rows(hashed)

    bands = (
        with_band_keys(_docs(spark, str(sf)))
        .select("doc_id", F.explode("bands").alias("b"))
        .select("doc_id", "b.band", "b.bk")
        .toPandas()
    )
    sig = con.execute(
        f"WITH {_gram_cte()}, {_sig_bands_cte()} SELECT doc_id, band, bk FROM bands"
    ).df()
    assert rows(bands) == rows(sig)

    lsh = band_table(gram_table, MH_A, MH_B, 1).toPandas()
    lsh_sig = con.execute(
        f"WITH {_gram_cte()}, {_sig_bands_cte(MH_A, MH_B, 1)} "
        "SELECT doc_id, band, bk FROM bands"
    ).df()
    assert rows(lsh) == rows(lsh_sig)


def test_simhash_near_duplicates_have_small_hamming(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and once"),
        (3, "entirely distinct vocabulary with zero overlap whatsoever ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet("/tmp/simhash_docs/documents.parquet")
    out = {
        r["doc_id"]: r["simhash"]
        for r in dedup_simhash(spark, "/tmp/simhash_docs").collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(out[1], out[2]) < ham(out[1], out[3])
    assert ham(out[1], out[2]) <= 10


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Within-bucket ANN must recall a decent share of the true top-5
    (random 64-d gaussian vectors, 8 planes — recall won't be high, but
    hits must be real neighbors with identical cosines)."""
    bf = sim_topk_bruteforce(spark, SF_SMOKE).toPandas()
    ann = sim_lsh_topk(spark, SF_SMOKE).toPandas()
    merged = ann.merge(
        bf, on=["query_id", "neighbor_id"], how="inner", suffixes=("_a", "_b")
    )
    if len(merged):
        assert np.allclose(merged["cos_a"], merged["cos_b"], atol=1e-4)
    # bucket sizes sum to table size
    b = sim_lsh_buckets(spark, SF_SMOKE).toPandas()
    assert b["vec_id"].nunique() == len(b)
    sizes = b.groupby("bucket")["vec_id"].count()
    bs = b.drop_duplicates("bucket").set_index("bucket")["bucket_size"]
    assert (sizes == bs).all()


def test_exact_dedup_planted(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "  Same Text  "), (4, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet("/tmp/exact_docs/documents.parquet")
    from pymfe_spark.operators.dedup import dedup_exact

    out = dedup_exact(spark, "/tmp/exact_docs").toPandas().set_index("doc_id")
    assert out.loc[1, "canonical_id"] == 1 and out.loc[1, "cluster_size"] == 3
    assert out.loc[2, "canonical_id"] == 1
    assert out.loc[3, "canonical_id"] == 1  # lower(trim()) normalization
    assert out.loc[4, "cluster_size"] == 1


def test_embedding_cosine_dedup_exact_vs_lsh(spark):
    """Candidate-based near-dup pairs are a subset of the all-pairs
    truth source with identical cosines (bucketing only drops
    candidates, never fabricates or perturbs them); the two-table
    variant recalls at least as much as the single-table one (its
    table 1 IS the single-table bucketing)."""
    from pymfe_spark.operators.similarity import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_exact,
        dedup_embedding_lsh,
    )

    exact = dedup_embedding_cosine_exact(spark, SF_SMOKE).toPandas()
    two_table = dedup_embedding_cosine(spark, SF_SMOKE).toPandas()
    one_table = dedup_embedding_lsh(spark, SF_SMOKE).toPandas()
    assert len(exact) > 0
    ek = {(a, b): c for a, b, c in exact.itertuples(index=False)}
    tk = {(a, b) for a, b, _ in two_table.itertuples(index=False)}
    for a, b, c in two_table.itertuples(index=False):
        assert (a, b) in ek
        assert c == ek[(a, b)]
    for a, b, _ in one_table.itertuples(index=False):
        assert (a, b) in tk  # table-1 candidates all survive the union
    assert len(two_table) >= len(one_table)


def test_catalog_embedding_dedup_never_plans_bnlj(spark):
    """The O(n²) BroadcastNestedLoopJoin shape must never return to the
    catalog variant (VERDICT.md round-1 'What's wrong' #2); the exact
    truth source keeps it BY DESIGN (test-only)."""
    import contextlib
    import io

    from pymfe_spark.operators.similarity import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_exact,
    )

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assert "BroadcastNestedLoopJoin" not in plan(
        dedup_embedding_cosine(spark, SF_SMOKE)
    )
    assert "BroadcastNestedLoopJoin" in plan(
        dedup_embedding_cosine_exact(spark, SF_SMOKE)
    )


def test_ngram_jaccard_drops_planted_stop_shingle(spark):
    """A shingle shared by more docs than the DF cap must not generate
    candidate pairs by itself: docs whose ONLY shared shingles are hot
    produce no pair, while genuine near-dups still do."""
    from pymfe_spark.operators.dedup import dedup_ngram_jaccard

    boiler = "standard legal disclaimer applies here "  # 4-token shingle source
    rows = [(i, boiler + f"unique{i} filler{i} token{i} body{i}") for i in range(40)]
    # one genuine near-dup pair sharing non-boilerplate content
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta thetb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet("/tmp/stop_shingle/documents.parquet")
    out = dedup_ngram_jaccard(
        spark, "/tmp/stop_shingle", max_shingle_df=16
    ).toPandas()
    # the 40 boilerplate docs share ONLY the hot shingles -> 0 pairs
    assert not ((out.doc_a < 100) & (out.doc_b < 100)).any()
    # the genuine pair survives
    assert ((out.doc_a == 100) & (out.doc_b == 101)).any()


def test_simhash_pairs_recover_planted_near_dup(spark):
    """Band-join + hamming verify: a token-level edit stays within
    hamming 3 and is recovered; unrelated docs are not paired."""
    from pymfe_spark.operators.dedup import dedup_simhash_pairs

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts carefully catalog obscure mineral samples beneath "
        "flickering fluorescent laboratory lights every single day"
    )
    rows = [
        (1, base),
        (2, base.replace("day", "night")),  # one-token edit
        (3, "utterly disjoint vocabulary cluster without any shared terms"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet("/tmp/simhash_pairs/documents.parquet")
    out = dedup_simhash_pairs(spark, "/tmp/simhash_pairs").toPandas()
    hit = out[(out.doc_a == 1) & (out.doc_b == 2)]
    assert len(hit) == 1, "planted near-dup not recovered"
    assert hit.iloc[0]["hamming"] <= 3
    assert not ((out.doc_a == 1) & (out.doc_b == 3)).any()
    assert not ((out.doc_a == 2) & (out.doc_b == 3)).any()


def test_ivf_topk_probes_only_two_lists(spark):
    """IVF results: k rows per query, and every neighbor is reachable
    through one of the query's <= nprobe probed lists under the
    multi-assignment index (each vector lives in its IVF_SPILL
    nearest-centroid lists — round-4 recall raise)."""
    import numpy as np
    import pandas as pd

    from pymfe_spark.operators.similarity import (
        IVF_NPROBE,
        IVF_SPILL,
        N_QUERIES,
        TOP_K,
        sim_ivf_topk,
    )

    out = sim_ivf_topk(spark, SF_SMOKE).toPandas()
    assert set(out["query_id"]) == set(range(N_QUERIES))
    assert (out.groupby("query_id").size() == TOP_K).all()

    # pandas twin of the index: per-label centroids, spill assignment,
    # query probes — every returned neighbor must share a probed list
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    V = np.stack(emb["embedding"].to_numpy()).astype(float)
    ids = emb["vec_id"].to_numpy()
    labs = sorted(emb["label"].unique())
    cents = np.stack(
        [V[emb["label"].to_numpy() == l].mean(axis=0) for l in labs]
    )
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    Cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sim = Vn @ Cn.T
    order = np.argsort(-sim, axis=1)
    assign = {
        int(ids[i]): {labs[j] for j in order[i, :IVF_SPILL]}
        for i in range(len(ids))
    }
    probes = {
        int(ids[i]): {labs[j] for j in order[i, :IVF_NPROBE]}
        for i in range(len(ids))
        if ids[i] < N_QUERIES
    }
    for row in out.itertuples(index=False):
        assert assign[int(row.neighbor_id)] & probes[int(row.query_id)], (
            f"neighbor {row.neighbor_id} of query {row.query_id} not in "
            "any probed list"
        )


def test_kmeans_lloyd_inertia_and_ivf_recall(spark):
    """Distributed spherical k-means: the Lloyd objective (spherical
    inertia) is non-increasing across iterations; assignments are a
    partition into <= k clusters; the learned-IVF ANN returns k rows
    per query drawn from <= nprobe clusters, with cosines identical to
    brute force on matched pairs."""
    from pymfe_spark.operators.kmeans import (
        KMEANS_K,
        KMEANS_NPROBE,
        kmeans_assign,
        kmeans_fit,
        sim_kmeans_ivf_topk,
    )

    cents, hist = kmeans_fit(spark, SF_SMOKE, return_history=True)
    assert len(cents) == KMEANS_K
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-6, f"Lloyd inertia increased: {hist}"

    asg = kmeans_assign(spark, SF_SMOKE).toPandas()
    assert asg["vec_id"].is_unique
    assert asg["cluster"].between(0, KMEANS_K - 1).all()
    assert (asg["cos_to_centroid"] <= 1.0 + 1e-6).all()

    ivf = sim_kmeans_ivf_topk(spark, SF_SMOKE).toPandas()
    bf = sim_topk_bruteforce(spark, SF_SMOKE).toPandas()
    assert (ivf.groupby("query_id").size() == 5).all()
    merged = ivf.merge(
        bf, on=["query_id", "neighbor_id"], suffixes=("_a", "_b")
    )
    assert len(merged) > 0, "learned IVF recalled no true neighbors"
    np.testing.assert_allclose(merged["cos_a"], merged["cos_b"], atol=2e-4)
    # neighbors drawn only from the probed clusters
    cl = asg.set_index("vec_id")["cluster"]
    got = ivf.assign(c=ivf["neighbor_id"].map(cl))
    assert (got.groupby("query_id")["c"].nunique() <= KMEANS_NPROBE).all()


def test_multimodal_resize_contract(spark):
    """Resize keeps 1-in/1-out with the stubbed raster-size contract."""
    from pymfe_spark.operators.multimodal import multimodal_resize

    out = multimodal_resize(spark, SF_SMOKE, width=8, height=4).toPandas()
    assert (out["out_bytes"] == 32).all()
    assert (out["payload"].apply(len) == 32).all()
    assert out["doc_id"].is_unique


def test_multimodal_frame_sample_explodes(spark):
    """Frame sampling is 1-in/N-out with the deterministic schedule."""
    import pandas as pd

    from pymfe_spark.operators.multimodal import (
        FRAME_STRIDE_MS,
        multimodal_frame_sample,
    )

    out = multimodal_frame_sample(spark, SF_SMOKE).toPandas()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    n_bytes = docs.set_index("doc_id")["text"].str.encode("utf-8").str.len()
    counts = out.groupby("doc_id").size()
    for doc_id, n in n_bytes.items():
        assert counts[doc_id] == n % 7 + 1, doc_id
    assert (out["frame_ms"] == out["frame_idx"] * FRAME_STRIDE_MS).all()


def _uf_components(n_nodes, edges):
    """Reference union-find (test-only truth source)."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_connected_components_chain_and_random(spark):
    """Star-contraction must match union-find on an adversarial long
    chain (worst case for naive propagation: diameter = n) plus random
    edges, in O(log n) rounds."""
    import random

    from pymfe_spark.operators.dedup_cc import connected_components

    rng = random.Random(7)
    n = 200
    chain = [(i, i + 1) for i in range(60)]  # one long path component
    rand = [(rng.randrange(70, n), rng.randrange(70, n)) for _ in range(80)]
    edges = [(a, b) for a, b in chain + rand if a != b]
    truth = _uf_components(n, edges)
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["label"]
        for r in connected_components(df).collect()
    }
    touched = {x for e in edges for x in e}
    assert set(got) == touched
    for node in touched:
        assert got[node] == truth[node], (node, got[node], truth[node])


def test_dedup_clusters_keep_semantics(spark):
    """Every cluster keeps exactly its min doc_id; sizes sum to the
    document count; keep=False rows form the removal list."""
    from pymfe_spark.operators.dedup_cc import dedup_clusters
    from tests.conftest import SF_SMOKE

    pdf = dedup_clusters(spark, SF_SMOKE).toPandas()
    assert pdf["doc_id"].is_unique
    grp = pdf.groupby("cluster")
    for cluster, g in grp:
        assert g["doc_id"].min() == cluster
        assert (g["keep"] == (g["doc_id"] == cluster)).all()
        assert (g["cluster_size"] == len(g)).all()
    assert int(pdf.groupby("cluster")["cluster_size"].first().sum()) == len(pdf)
