"""Similarity search over an embedding column (array<float|double>).

Three paths:
- brute-force cosine top-k — the exact baseline: a broadcast
  cross-join with native dot-product math (F.zip_with/F.aggregate) and a
  window top-k. O(n·m); fine when the query side is small.
- LSH-bucketed ANN — sign-random-projection buckets in several
  hyperplane tables, candidates only within a shared bucket, then an
  exact cosine re-rank. Recall tunable via tables/bits.
- IVF ANN — nearest-centroid cells, each query probes its ``nprobe``
  best cells, then the same exact re-rank.

Bucket and cell DECISIONS run as one numpy matmul per Arrow batch
(``mapInArrow``); every score that reaches the output is a native
column expression.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    """Dot product of two array columns — one flat ``zip_with`` +
    ``aggregate`` fold.

    The fold is interpreted (higher-order functions are excluded from
    whole-stage codegen) but FLAT — one products array, one running
    sum. A statically unrolled ``F.get(a,j)*F.get(b,j)`` chain is
    slower: at dim 64 it costs ~0.76 s of py4j Column-building per
    query and pushes whole-stage codegen over Janino's 64 KB method
    limit, so it executes as a BIGGER interpreted tree (0.34 s vs
    0.27 s for the fold on a 16k-row cosine scan)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (F.greatest(_norm(a) * _norm(b), F.lit(1e-12)))


def _top_k(
    pairs: DataFrame, k: int, id_col: str, vec_col: str, q_id_col: str, q_vec_col: str
) -> DataFrame:
    """(q_id, id, cos_sim, rnk): the k best candidate pairs per query by
    exact cosine, ties broken by id ascending."""
    scored = pairs.withColumn("cos_sim", cosine(F.col(vec_col), F.col(q_vec_col)))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "cos_sim", "rnk")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query. The query side is
    broadcast (it is the small side by construction — a query batch);
    the corpus side streams through one broadcast nested-loop join and
    a top-k window."""
    return _top_k(
        vectors.crossJoin(F.broadcast(queries)), k, id_col, vec_col, q_id_col, q_vec_col
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).astype("float64").tolist()


def _vector_batches(batches, dim: int):
    """(ids, (n, dim) matrix) per Arrow batch of (id, vector) rows,
    keeping only the rows whose vector is non-null, exactly ``dim``
    wide and finite. The other rows get no bucket or cell, so they
    never become candidates: a null or ragged vector would otherwise
    break the reshape, and a default bucket would pile every such row
    into one hot bucket."""
    import pyarrow.compute as pc

    for batch in batches:
        widths = pc.list_value_length(batch.column(1)).fill_null(-1)
        batch = batch.filter(pc.equal(widths, dim))
        if batch.num_rows == 0:
            continue
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
        v = flat.reshape(-1, dim)
        finite = np.isfinite(v).all(axis=1)  # null elements arrive as NaN
        yield ids[finite], v[finite]


def srp_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    all_planes: list[list[list[float]]],
) -> DataFrame:
    """(id, table_id, bucket) for every usable row × hyperplane table:
    bit i of a bucket is set when the vector's dot product with plane i
    is positive. One BLAS matmul per Arrow batch, shipping only
    (id, vector) to Python.

    The float summation order differs from the DuckDB oracle's, which
    is safe because a bucket bit is a SIGN decision: the gate corpora's
    smallest |projection| is seven or more orders of magnitude above
    the ~1e-13 reordering noise of a 64-term dot product
    (tests/test_ann_margins.py). Scores that reach the output (the
    cosine re-rank) stay native column expressions."""
    import pyarrow as pa

    tables = len(all_planes)
    bits = len(all_planes[0])
    # 2^i stays exact and the bit sum inside int64 for bits <= 62
    if bits > 62:
        raise ValueError(f"srp_buckets_arrow supports at most 62 bits, got {bits}")
    dim = len(all_planes[0][0])
    P = np.concatenate(
        [np.asarray(p, dtype=np.float64) for p in all_planes], axis=0
    )  # (tables*bits, dim)
    pow2 = 1 << np.arange(bits, dtype=np.int64)
    id_type = dict(df.dtypes)[id_col]
    table_ids = np.arange(tables, dtype=np.int32)

    def fn(batches):
        for ids, v in _vector_batches(batches, dim):
            n = len(ids)
            buckets = ((v @ P.T) > 0).reshape(n, tables, bits) @ pow2
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, tables)),
                    pa.array(np.tile(table_ids, n)),
                    pa.array(buckets.reshape(-1)),
                ],
                names=[id_col, "table_id", "bucket"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        fn, schema=f"{id_col} {id_type}, table_id int, bucket long"
    )


def ivf_cells_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int | None = None,
) -> DataFrame:
    """(id, cell) rows from the centroid dot-product scores, one matmul
    per Arrow batch.

    ``nprobe=None`` assigns each vector its one nearest cell, the FIRST
    maximum on ties (corpus side). ``nprobe=n`` emits the n best cells
    ordered by (score desc, cell desc) (query side). Both tie orders
    are the ones the DuckDB oracle encodes. Float-order safety is the
    srp_buckets_arrow argument: the audited top-1/top-2 and nprobe
    boundary gaps dwarf reordering noise."""
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    id_type = dict(df.dtypes)[id_col]

    def fn(batches):
        for ids, v in _vector_batches(batches, dim):
            S = v @ C.T
            if nprobe is None:
                cells = np.argmax(S, axis=1)[:, None]
            else:
                # a stable sort over reversed columns breaks score ties
                # toward the higher cell
                order = np.argsort(-S[:, ::-1], axis=1, kind="stable")
                cells = k - 1 - order[:, :nprobe]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, cells.shape[1])),
                    pa.array(cells.reshape(-1).astype(np.int64)),
                ],
                names=[id_col, "cell"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        fn, schema=f"{id_col} {id_type}, cell long"
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ANN: candidates share an SRP bucket in at least one of ``tables``
    hyperplane tables; exact cosine re-rank on the candidate set.

    Buckets carry ids only, so the bucket join and the distinct move
    bare (q_id, id) pairs; the two vectors are attached once to the
    surviving candidates for the re-rank. Recall rises with
    ``tables``; candidate volume falls with ``bits``."""
    from .dedup import _rebalance

    # tiny-file guard (see dedup._rebalance): the per-vector projection
    # math inherits the scan's partitioning and serializes on one core
    # for single-row-group inputs; no-op on real multi-split corpora
    vectors = _rebalance(vectors, id_col)
    all_planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    v_bucketed = srp_buckets_arrow(vectors, id_col, vec_col, all_planes)
    q_bucketed = srp_buckets_arrow(queries, q_id_col, q_vec_col, all_planes)
    cand_ids = (
        v_bucketed.join(F.broadcast(q_bucketed), ["table_id", "bucket"])
        .select(id_col, q_id_col)
        .distinct()
    )
    cands = cand_ids.join(vectors.select(id_col, vec_col), id_col).join(
        F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col
    )
    return _top_k(cands, k, id_col, vec_col, q_id_col, q_vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    vectors: DataFrame,
    k: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
):
    """Coarse quantizer for IVF: k-means on a DETERMINISTIC sample.

    Training runs driver-side on a bounded sample (k-means++ init,
    fixed seed, numpy Lloyd iterations) — the classic IVF recipe:
    centroid fitting needs only a representative sample, never the
    corpus; the corpus-sized work (assignment) stays distributed.
    Returns a (k, dim) list-of-lists, broadcast as a plan literal.

    Sampling: the ``sample_size`` rows with the smallest hash of the
    vector bytes, in one ordered take (a bounded top-n heap per
    partition), so the sample is a pure function of the data."""
    rows = (
        vectors.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("string")))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("ivf_train_centroids: empty vectors DataFrame")
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    # k-means++ init; stop early when the sample has fewer distinct
    # points than k (duplicate-heavy corpora) — residual distances all
    # zero means every point is already covered
    cents = [x[rng.randint(len(x))]]
    for _ in range(1, k):
        d2 = np.min(
            [np.sum((x - c) ** 2, axis=1) for c in cents], axis=0
        )
        total = d2.sum()
        if total <= 1e-12:
            break
        cents.append(x[rng.choice(len(x), p=d2 / total)])
    c = np.asarray(cents)
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)  # unit vectors: cosine argmax
        for j in range(len(c)):
            m = x[assign == j]
            if len(m):
                cj = m.mean(axis=0)
                c[j] = cj / max(np.linalg.norm(cj), 1e-12)
    return c.tolist()


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell;
    each query probes its ``nprobe`` closest cells; candidates within
    probed cells get an exact cosine re-rank.

    Same plan shape as lsh_topk: an ids-only cell join against the
    broadcast query probes, then the vectors attached once for the
    re-rank. Recall rises with ``nprobe``; candidate volume ≈ nprobe/k
    of the corpus per query."""
    from .dedup import _rebalance

    vectors = _rebalance(vectors, id_col)  # tiny-file guard (no-op at scale)
    v_cells = ivf_cells_arrow(vectors, id_col, vec_col, centroids)
    q_cells = ivf_cells_arrow(queries, q_id_col, q_vec_col, centroids, nprobe)
    # a vector has one cell and a query's probes are distinct cells,
    # so each (id, q_id) pair is born once
    cand_ids = v_cells.join(F.broadcast(q_cells), "cell").select(id_col, q_id_col)
    cands = cand_ids.join(vectors.select(id_col, vec_col), id_col).join(
        F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col
    )
    return _top_k(cands, k, id_col, vec_col, q_id_col, q_vec_col)
