"""Similarity search: brute-force cosine exactness + LSH recall."""

import math

import pytest
from pyspark.sql import functions as F

from t_res_spark.operators import similarity_search as ss


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(20, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # vec 19 = near-copy of vec 0
    rows[19] = (19, [float(x + 0.01) for x in base[0]])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_self_top1(vectors):
    queries = vectors.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).filter(F.col("q_id").isin(0, 5))
    out = ss.brute_force_topk(vectors, queries, k=3)
    top1 = {r["q_id"]: r["vec_id"] for r in out.filter(F.col("rnk") == 1).collect()}
    assert top1 == {0: 0, 5: 5}  # self is nearest
    near = {r["q_id"]: r["vec_id"] for r in out.filter(F.col("rnk") == 2).collect()}
    assert near[0] == 19  # planted near-copy


def test_lsh_finds_planted_neighbor(vectors):
    queries = vectors.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).filter(F.col("q_id") == 0)
    out = ss.lsh_topk(vectors, queries, dim=8, k=5, bits=6, tables=6)
    ids = [r["vec_id"] for r in out.collect()]
    assert 0 in ids and 19 in ids  # self + near-copy recalled


def test_lsh_planted_neighbor_recall_floor(spark):
    """VERDICT r03 #8: ann_lsh is rows-only in the gate ('approximate
    by design') — this pins a quantified floor on the REAL gate corpus:
    plant a perturbed near-copy (cosine ≈ 0.995 — deliberately NOT a
    scaled copy, so recall is probabilistic, not structural) of every
    7th testdata embedding, and require the LSH path (gate params:
    bits=8, tables=4, seed=42) to find ≥ 0.95 of the planted partners
    in its top-10. Expected miss probability per pair at cos 0.995 is
    (1-(1-θ/π)^8)^4 ≈ 0.3 %; a bucketing/plan regression that breaks
    co-location fails this loudly. (Arbitrary top-10 of a random
    corpus — weak cos≈0.3 neighbors — is NOT recallable by design;
    the floor is therefore defined over genuinely-similar pairs.)"""
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {int(r.vec_id): np.asarray(list(r.embedding), dtype=float)
            for r in pdf.itertuples()}
    rng = np.random.RandomState(0)
    rows = [(i, v.tolist()) for i, v in base.items()]
    planted = []
    for i, v in base.items():
        if i % 7 == 0:
            noise = rng.normal(size=v.shape)
            noise *= 0.1 * np.linalg.norm(v) / max(np.linalg.norm(noise), 1e-12)
            planted.append((-i - 1, (v + noise).tolist()))
    emb = spark.createDataFrame(
        rows + planted, "vec_id long, embedding array<double>"
    )
    dim = len(next(iter(base.values())))
    queries = emb.filter((F.col("vec_id") >= 0) & (F.col("vec_id") % 7 == 0)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ss.lsh_topk(emb, queries, dim=dim, k=10)
    hits = {
        r["q_id"]
        for r in got.filter(F.col("vec_id") == -F.col("q_id") - 1).collect()
    }
    n_q = len(planted)
    recall = len(hits) / n_q
    assert recall >= 0.95, f"planted-neighbor recall@10 = {recall:.3f} over {n_q}"


def test_srp_bucket_rejects_overflow_bits(vectors):
    """bits > 62 would overflow the int64 bucket-id accumulation —
    must fail loudly, not corrupt bucket ids (ADVICE r02)."""
    with pytest.raises(ValueError, match="62 bits"):
        ss.srp_buckets_arrow(
            vectors, "vec_id", "embedding", [ss._hyperplanes(8, 64, seed=1)]
        )


def test_ann_skips_null_and_ragged_vectors(spark):
    """Null, wrong-width and null-element vectors get no bucket or cell:
    the ANN paths do not crash on them, never return them, and the
    embedding near-dup clusters keep them as singletons."""
    import numpy as np

    from t_res_spark.operators.dedup import embedding_near_duplicates

    rng = np.random.RandomState(4)
    good = rng.normal(size=(6, 4))
    rows = [(i, [float(x) for x in good[i]]) for i in range(6)]
    rows[5] = (5, [float(x * 2.0) for x in good[0]])  # scaled copy of 0
    bad = [(6, None), (7, [1.0, 2.0]), (8, [1.0, None, 0.5, 0.25])]
    vecs = spark.createDataFrame(rows + bad, "vec_id long, embedding array<double>")
    queries = vecs.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    bad_ids = {6, 7, 8}

    lsh = ss.lsh_topk(vecs, queries, dim=4, k=3, bits=4, tables=4).collect()
    cents = ss._hyperplanes(4, 3, seed=5)
    ivf = ss.ivf_topk(vecs, queries, cents, k=3, nprobe=3).collect()
    for got in (lsh, ivf):
        assert {r["q_id"] for r in got} == set(range(6))
        assert not {r["vec_id"] for r in got} & bad_ids

    clusters = {
        int(r["doc_id"]): r["dup_cluster"]
        for r in embedding_near_duplicates(vecs, threshold=0.99, dim=4).collect()
    }
    assert clusters[0] == clusters[5] == "0"
    assert all(clusters[i] == str(i) for i in bad_ids)


def test_cosine_matches_numpy(spark, vectors):
    import numpy as np

    rows = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    got = (
        vectors.filter(F.col("vec_id").isin(0, 1))
        .crossJoin(
            vectors.filter(F.col("vec_id") == 2).select(
                F.col("embedding").alias("other")
            )
        )
        .select("vec_id", ss.cosine(F.col("embedding"), F.col("other")).alias("c"))
        .collect()
    )
    for r in got:
        a, b = np.array(rows[r["vec_id"]]), np.array(rows[2])
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert math.isclose(r["c"], want, rel_tol=1e-9)


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with generous nprobe must recover the brute-force top-k
    (clustered data: cells are meaningful); determinism across calls."""
    import numpy as np

    from t_res_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_topk,
        ivf_train_centroids,
    )

    rng = np.random.RandomState(5)
    # 4 well-separated clusters of unit vectors
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(200):
        c = centers[i % 4]
        v = c + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter("vec_id < 3").selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    cents = ivf_train_centroids(vecs, k=4, sample_size=200, seed=7)
    assert cents == ivf_train_centroids(vecs, k=4, sample_size=200, seed=7)

    got = ivf_topk(vecs, queries, cents, k=5, nprobe=2)
    want = brute_force_topk(vecs, queries, k=5)
    g = {(r["q_id"], r["rnk"]): r["vec_id"] for r in got.collect()}
    w = {(r["q_id"], r["rnk"]): r["vec_id"] for r in want.collect()}
    assert g == w


def test_ivf_candidate_volume_bounded(spark):
    """nprobe=1 probes ~1/k of the corpus per query (the scale
    contract: candidate volume shrinks with k)."""
    import numpy as np

    from t_res_spark.operators.similarity_search import (
        ivf_cells_arrow,
        ivf_train_centroids,
    )

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(400)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train_centroids(vecs, k=8, sample_size=400, seed=1)
    cells = ivf_cells_arrow(vecs, "vec_id", "embedding", cents)
    sizes = [r["n"] for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) >= 4           # centroids actually used
    assert max(sizes) < 400 * 0.6    # no degenerate single cell


def test_ivf_train_degenerate_sample(spark):
    """Duplicate-heavy samples (fewer distinct points than k) must not
    crash k-means++ — centroids stop early at the distinct count."""
    from t_res_spark.operators.similarity_search import ivf_train_centroids

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    rows += [(100 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(50)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train_centroids(vecs, k=16, sample_size=100, seed=3)
    assert 1 <= len(cents) <= 2


def test_ivf_train_empty_input_raises(spark):
    """An empty corpus has no sample to train on: the ordered take
    returns no rows and training refuses, rather than fitting nothing."""
    from t_res_spark.operators.similarity_search import ivf_train_centroids

    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        ivf_train_centroids(vecs, k=4, sample_size=10)
