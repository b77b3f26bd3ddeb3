"""Deduplication operators over a documents table (doc_id, text, ...).

First-class components of the training-data pipeline this engine serves
(task brief): exact hash-dedup, MinHash+LSH near-dup, SimHash, n-gram
Jaccard, and embedding-cosine near-dup. All are blocking + pairwise +
transitive-clustering shapes — they reuse the same connected-components
operator as entity resolution (operators/clustering.py).

Scale notes:
- exact dedup is one map-side-combinable groupBy on a 64/128-bit digest
  (never on raw text — shuffle bytes stay tiny);
- MinHash/LSH shuffles (band_hash → doc) pairs: band count × rows;
  SimHash buckets by table rotation of the 64-bit fingerprint. Both
  expand bucket members into candidate pairs inside a cap-bounded
  array (``_bucket_pairs``; huge buckets are exact-duplicate families
  — route them through exact dedup, don't pair them);
- embedding near-dup buckets by SRP sign bits, uncapped: a full SRP
  bucket is not an exact-duplicate family, so dropping it loses true
  edges. Its pairs come from a streaming bucket self-join until ROADMAP
  direction 8 splits such buckets instead;
- all near-dup candidate pairs go through a verify stage (true Jaccard /
  Hamming / cosine) before ``_dup_clusters`` labels them — LSH alone
  over-merges.

MinHash here uses the standard universal-hash family
h_i(x) = (a_i * x + b_i) mod p with fixed seeds, applied to 64-bit
shingle hashes (xxhash64) — all native column math over arrays
(F.transform / F.aggregate), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import connected_components

# Mersenne prime 2^31-1: hash values and coefficients stay < 2^31, so
# the universal-hash multiply stays < 2^62 — no int64 overflow under
# Spark's ANSI arithmetic.
_MERSENNE_P = (1 << 31) - 1


def _shingles(text, n: int = 5):
    """Word n-gram shingle array (distinct), lowercased."""
    words = F.split(F.lower(F.trim(text)), "\\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    )


# logical operators whose presence means the frame's partitioning was
# already chosen by a shuffle upstream — rebalancing after one is
# redundant (an extra full Exchange of the corpus)
_WIDE_NODES = (
    "Join", "Aggregate", "Window", "Distinct", "Deduplicate",
    "Repartition", "Sort", "FlatMapGroupsInPandas",
)


def _rebalance(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Tiny-input guard for the CPU-heavy per-document stages.

    Shingling/hashing inherit the SCAN's partitioning; a small corpus
    in one parquet row group serializes the whole signature stage onto
    one core (measured: 3.8 s single-task out of d2's 9.6 s steady
    state at sf0.1). The guard fires only when BOTH hold: the scan's
    file count (``DataFrame.inputFiles`` — analyzed-plan metadata,
    no plan-to-RDD conversion) is below the session's parallelism,
    AND the frame is a narrow chain over that scan — ``inputFiles``
    reports leaf files through any number of shuffles, so a
    derived frame (join/agg/window upstream) whose width was already
    chosen by an exchange must not be re-shuffled just because its
    leaf scan is small. At target scale inputs arrive in thousands of
    splits and the file-count check short-circuits without touching
    the plan. Any introspection failure (Spark Connect has neither
    SparkContext nor _jdf) degrades to a no-op: this is a local-mode
    performance aid, never a correctness requirement."""
    try:
        spark = docs.sparkSession
        cores = spark.sparkContext.defaultParallelism
        n_files = len(docs.inputFiles())
        if not (0 < n_files < cores):
            return docs
        plan = docs._jdf.queryExecution().analyzed().toString()
    except Exception:  # Connect / exotic plans — leave as-is
        return docs
    if any(node in plan for node in _WIDE_NODES):
        return docs
    from ..functions.shuffle import shuffle_width

    return docs.repartition(shuffle_width(docs), key)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MinHash over word-shingle hashes,
    entirely native column math (no UDF).

    Plan shape: explode the shingle hashes, evaluate all ``num_hashes``
    universal-hash columns as plain codegen'd long arithmetic, and take
    per-doc mins with a map-side-combinable hash aggregate. Higher-order
    functions (ArrayAggregate/ArrayTransform) are EXCLUDED from
    whole-stage codegen — they evaluate interpreted with per-element
    boxing — so the earlier single-pass ``F.aggregate`` fold over the
    hash array paid interpreter overhead on every (shingle × hash) step;
    the explode + groupBy(min) form measured ~25% faster end-to-end at
    sf0.1 and keeps the hot loop in Tungsten. The added exchange
    shuffles one pre-combined ~0.5 KB row per doc per partition — the
    same magnitude as the LSH banding shuffle that follows.

    Note: a doc whose shingle array is null/empty yields no exploded
    rows and therefore no signature row; downstream cluster surfaces
    treat missing docs as singletons (the coalesce in
    ``near_duplicate_clusters``), which is also the only sane semantics
    for an empty document."""
    import random

    rng = random.Random(seed)
    ab = [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]
    P = F.lit(_MERSENNE_P)
    sh = _shingles(F.col(text_col), shingle_n)
    # shingle build stays per-row (one interpreted HOF pass — measured
    # cheaper than any shuffle-based alternative; JVM string concat is
    # fast), then hashing/min-folding is all codegen
    exploded = docs.select(
        "doc_id",
        F.explode(F.transform(sh, lambda s: F.pmod(F.xxhash64(s), P))).alias("x"),
    )
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.pmod(F.col("x") * F.lit(a), P) + F.lit(b), P)).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(ab)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def _bucket_pairs(
    banded: DataFrame, key_cols: list[str], bucket_cap: int
) -> DataFrame:
    """(key..., doc_id) bucket membership → distinct candidate (a, b)
    pairs with a < b. Callers: ``simhash_near_pairs`` and the unfused
    ``minhash_lsh_pairs`` banding (the fused banding writes the same
    expansion inline, with its estimate filter inside the array).

    ONE aggregation shuffle: ids are collected per bucket
    (map-side-combinable into arrays bounded by the cap filter) and the
    k·(k-1)/2 pairs expand NATIVELY from the sorted array — no
    window-count pass and no bucket self-join. A whole bucket lands in
    one task either way (that is what bucketing means); the cap bounds
    both the array row and the quadratic expansion, and over-cap
    buckets are exact/near-exact families the cheap exact pass already
    groups. An uncapped caller must not come here: one bucket's pairs
    are built as one unspillable array row (see
    ``embedding_near_duplicates``)."""
    buckets = (
        banded.groupBy(*key_cols)
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= bucket_cap))
        .select(F.array_sort("ids").alias("ids"))
    )
    pairs_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def _band_hashes(bands: int, rows_per_band: int):
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
            for b in range(bands)
        ]
    )


def _estimate_clears(sig_a, sig_b, threshold: float):
    """Boolean column: the MinHash Jaccard estimate of two signatures
    (the fraction of equal positions) is at least
    ``threshold - 2/sqrt(num_hashes)``. The margin is about four
    standard errors of the estimator, so recall holds at 16 hashes as
    at 64."""
    n = F.greatest(F.size(sig_a), F.lit(1))
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda u, v: (u == v).cast("int")),
        F.lit(0),
        lambda acc, z: acc + z,
    )
    return matches / n >= F.lit(threshold) - F.lit(2.0) / F.sqrt(n.cast("double"))


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    bucket_cap: int = 50,
    estimate_threshold: float | None = None,
) -> DataFrame:
    """Band the signatures, bucket, emit candidate (a, b) pairs.

    Buckets larger than ``bucket_cap`` are skipped (they are exact
    or near-exact duplicate families — the cheap exact pass catches
    them; pairing them is O(n²) for no information).

    ``estimate_threshold``: when set, the signature-estimate pre-filter
    is FUSED into the bucket aggregation — the full (doc_id, sig)
    structs ride the one banding shuffle, pairs are born inside the
    bucket row with their estimate already computed (an in-array
    zip_with/aggregate over the two signatures), and only (a, b)
    survivors of ``estimate >= threshold - 2/sqrt(num_hashes)`` are
    exploded. Compared to the unfused plan
    (pairs → join sigs → join sigs → filter) this removes two
    signature joins — i.e. two shuffles of every candidate pair —
    at the cost of cap-bounded O(k²·num_hashes) comparisons per
    bucket done where the data already lives.

    Skew guard: bucket membership is pre-counted on an ids-only pass
    and the heavy (doc_id, sig) structs are semi-joined to under-cap
    buckets BEFORE the collect aggregation — an over-cap bucket (a
    large exact-dup family) never materializes a signature array in
    any agg buffer (~512 B/doc × family size otherwise)."""
    if estimate_threshold is None:
        banded = signatures.select(
            "doc_id",
            F.posexplode(_band_hashes(bands, rows_per_band)).alias("band", "bucket"),
        )
        return _bucket_pairs(banded, ["band", "bucket"], bucket_cap)

    band_arr = _band_hashes(bands, rows_per_band)
    # ids-only pre-count: recomputing the band hashes is cheap codegen;
    # shuffling ids instead of (doc_id, sig) structs is 64x lighter
    light = signatures.select("doc_id", F.posexplode(band_arr).alias("band", "bucket"))
    ok_buckets = (
        light.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= bucket_cap))
        .select("band", "bucket")
    )
    banded = signatures.select(
        F.struct("doc_id", "sig").alias("ds"),
        F.posexplode(band_arr).alias("band", "bucket"),
    )
    # array_sort on struct<doc_id, sig> orders by doc_id (first field) —
    # same canonical a < b pair orientation as _bucket_pairs; the semi
    # join makes the post-agg cap filter redundant (counts come from
    # the identical banding derivation)
    buckets = (
        banded.join(ok_buckets, ["band", "bucket"], "semi")
        .groupBy("band", "bucket")
        .agg(F.collect_list("ds").alias("items"))
        .select(F.array_sort("items").alias("items"))
    )

    pairs_arr = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.filter(
                    F.slice(F.col("items"), i + 2, F.size("items")),
                    lambda y: _estimate_clears(x["sig"], y["sig"], estimate_threshold),
                ),
                lambda y: F.struct(x["doc_id"].alias("a"), y["doc_id"].alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """True n-gram Jaccard on candidate pairs (the verify stage after
    LSH): array_intersect/array_union — native, codegen'd.

    Shingles are built ONLY for docs that appear in a candidate pair
    (semi-join on the pair ids first): the candidate set is orders of
    magnitude smaller than the corpus, so re-shingling every document
    for the verify — as the previous plan did — paid the interpreted
    shingle HOF over the whole corpus a second time for nothing."""
    ids = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(ids, "doc_id", "left_semi").select(
        F.col("doc_id"), _shingles(F.col(text_col), shingle_n).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _dup_clusters(rows: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Verified (a, b) pairs → (doc_id, dup_cluster) over every id of
    ``rows``: connected components close the pairs transitively, and
    an id in no pair labels itself.

    CC runs on the native id type (longs shuffle and compare cheaper
    than strings); both labels are cast to string only here."""
    labels = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return (
        rows.select(F.col(id_col).alias("mention_id"))
        .join(labels, "mention_id", "left")
        .select(
            F.col("mention_id").cast("string").alias("doc_id"),
            F.coalesce("cluster_id", "mention_id").cast("string").alias("dup_cluster"),
        )
    )


def near_duplicate_clusters(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    shingle_n: int = 5,
) -> DataFrame:
    """MinHash → LSH candidates → signature-estimate pre-filter →
    Jaccard verify → connected components.
    Returns (doc_id, dup_cluster) covering every document (singletons
    map to themselves). ``shingle_n``: word-shingle width — 5 for strict
    long-document dedup, 3 when single-word edits must still collide."""
    # Fused plan: signatures are computed once and consumed by the
    # banding shuffle (structs) plus the ids-only bucket pre-count —
    # TWO subplans sharing the signature subtree. Measured: AQE's
    # exchange reuse does NOT kick in for the duplicated aggregation
    # subtree at runtime (sig+pairs timed ≈ 2x sig alone), so the
    # signature stage ran twice per query. A LAZY ``cache()`` (no extra
    # materialization job — the pre-count pass populates it, the
    # banding pass reads it; released right after the pair checkpoint)
    # shares it: full-query A/B, interleaved min-of-5 —
    # sf1.0 9.9 s → 7.5 s, sf0.1 4.5 s → 3.8 s. (An EAGER
    # localCheckpoint of the signatures was also tried and LOST at
    # sf0.1 — 3.1-4.0 s → 5.8-6.5 s — the materialization job
    # serializes the pipeline; the lazy cache doesn't.)
    docs = _rebalance(docs)
    sigs = minhash_signatures(docs, text_col, num_hashes, shingle_n).cache()
    near = minhash_lsh_pairs(
        sigs, bands, num_hashes // bands, estimate_threshold=threshold
    )
    # verify references the pair set THREE times (both semi-join sides
    # + the pair join); a tiny eager checkpoint guarantees the
    # signature+banding job runs exactly once rather than trusting
    # exchange reuse across the three subplans
    near = near.localCheckpoint(eager=True)
    sigs.unpersist()  # pair set is materialized; the sig cache is dead
    verified = jaccard_verify(docs, near, text_col, shingle_n, threshold)
    return _dup_clusters(docs, "doc_id", verified)


def embedding_near_duplicates(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate clusters (task brief): SRP-LSH
    buckets propose candidate pairs, exact cosine verifies against the
    threshold, connected components closes them transitively. Returns
    (doc_id, dup_cluster) over every input row.

    ``dim``: embedding dimensionality (fixed encoder width, table
    contract), as ``similarity_search.lsh_topk`` takes it.

    Buckets are not capped: an over-full SRP bucket holds distinct
    vectors, so dropping it would lose true near-dup edges. So pairs
    come from a (table_id, bucket) self-join, not ``_bucket_pairs``:
    the join streams a hot bucket's O(bucket²) pairs from a spillable
    sort buffer and AQE's skew handling can split its partition, where
    the in-array expansion would build them as one unspillable row.
    The bound is the largest bucket's k·(k-1)/2 pairs per table (all
    copies of one vector share every bucket); ROADMAP direction 8
    brings a cap with extra-plane refinement."""
    from .similarity_search import _dot, _hyperplanes, _norm, srp_buckets_arrow

    vectors = _rebalance(vectors, id_col)
    planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    # Decide with small rows, move big rows once: if the bucket pairs
    # and their dedup CARRIED both 64-dim vectors, every candidate pair
    # would shuffle ~1 KB of payload, O(bucket²) pairs deep. So pairs
    # are decided on ids alone, and the two vectors are re-attached
    # ONCE to the distinct pair set (the jaccard_verify pattern).
    # (id → vec) is functional, so the cosine sees the identical
    # vectors.
    # ids-only bucket rows from one Arrow matmul per batch; the sign
    # margins of the gate corpora, planted 1.5x copies included, are
    # audited in tests/test_ann_margins.py
    bucketed_ids = srp_buckets_arrow(vectors, id_col, vec_col, planes).select(
        F.col(id_col).alias("a"), "table_id", "bucket"
    )
    cand_ids = (
        bucketed_ids.join(
            bucketed_ids.withColumnRenamed("a", "b"), ["table_id", "bucket"]
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # norms computed ONCE PER VECTOR and carried to the pair, so each
    # candidate pays one interpreted 64-element fold (the dot), not
    # three. Same fold on the same array → bit-identical cosines.
    va = vectors.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("vec_a"),
        _norm(F.col(vec_col)).alias("norm_a"),
    )
    vb = vectors.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vec_b"),
        _norm(F.col(vec_col)).alias("norm_b"),
    )
    verified = (
        cand_ids.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cos_sim",
            _dot(F.col("vec_a"), F.col("vec_b"))
            / F.greatest(F.col("norm_a") * F.col("norm_b"), F.lit(1e-12)),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    return _dup_clusters(vectors, id_col, verified)


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash of word unigrams — per-bit vote via native array
    math. Returns (doc_id, simhash).

    Scale shape: the token hashes are materialized in a prior projection
    (Catalyst does not CSE across higher-order functions — see
    minhash_signatures), then ALL 64 bit votes fold in a single
    ``aggregate`` pass whose accumulator is a 64-long counter array.
    One traversal of the token array per row, not 64. (The flat
    alternative — one scalar fold per bit — is slightly slower
    (0.99 s vs 0.89 s on the sf1.0 corpus): this inner lambda is plain
    long arithmetic with no per-element literal-matrix indexing, so the
    single traversal's allocation overhead is cheaper than 64
    re-traversals.)"""
    words = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), "\\s+"))
    hashed = _rebalance(docs).select(
        "doc_id", F.transform(words, lambda s: F.xxhash64(s)).alias("hs")
    )
    # SQL lambda form: `x >> i` accepts a column shift amount (the
    # Python F.shiftright API only takes int literals).
    votes_expr = f"""
        aggregate(
          hs,
          array_repeat(CAST(0 AS LONG), {bits}),
          (acc, x) -> zip_with(
            acc, sequence(0, {bits - 1}),
            (a, i) -> a + IF(((x >> i) & 1) = 1, 1L, -1L)
          )
        )
    """
    voted = hashed.select("doc_id", F.expr(votes_expr).alias("votes"))
    # assemble the fingerprint with static bit literals OR'd together
    # (bit 63 is the sign bit — represented by long-min)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        bit_lit = -(1 << 63) if i == 63 else (1 << i)
        fp = fp.bitwiseOR(
            F.when(F.element_at("votes", i + 1) > 0, F.lit(bit_lit).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return voted.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bucket_cap: int = 50,
) -> DataFrame:
    """Candidate pairs whose SimHash collides in ≥1 of ``bands``
    disjoint 16-bit segments, verified by true Hamming distance
    (bit_count of xor — native).

    Pigeonhole guarantee: two fingerprints with Hamming distance ≤
    ``bands - 1`` differ in fewer bits than there are bands, so at
    least one band is identical — recall is exact for
    ``max_hamming < bands`` (property-tested). Bucket key is
    (band_idx, segment_value): segment r = ``(simhash >> 16r) & 0xFFFF``
    (the mask makes the top band sign-safe). Buckets over
    ``bucket_cap`` are skipped, exactly like minhash_lsh_pairs — a
    64k-bucket band over 10⁹ docs would otherwise quadratically
    explode; oversized buckets are exact/near-exact families the cheap
    exact pass already groups."""
    seg_w = 64 // bands
    mask = (1 << seg_w) - 1
    banded = fingerprints.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), seg_w * r)
                    .bitwiseAND(F.lit(mask))
                    for r in range(bands)
                ]
            )
        ).alias("band", "segment"),
    )
    cands = _bucket_pairs(banded, ["band", "segment"], bucket_cap)
    fa = fingerprints.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    fb = fingerprints.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    return (
        cands.join(fa, "a")
        .join(fb, "b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
