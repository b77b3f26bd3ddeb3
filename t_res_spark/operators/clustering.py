"""Stage 5 — transitive clustering via distributed connected components.

The reference materialises entity clusters only implicitly (each mention
carries a ``prediction`` field, /root/reference/geoparser/pipeline.py:336);
grouping mentions by prediction IS its transitive closure. This engine
materialises clusters explicitly with the alternating
**large-star / small-star** connected-components algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
— public algorithm), which converges in O(log n) rounds, is
hash-partitioned on node id, and needs no vertex state beyond the edge
set. The same operator is reused by the near-duplicate-document
clustering in operators/dedup.py, where edges are genuinely
non-transitive similarity pairs.

Determinism (SURVEY §7.3 #2): node ids are strings; component labels are
the lexicographic MIN node id of the component; every reduction is a
min — no floats, no partition-order sensitivity.

Scale notes:
- per-iteration ``localCheckpoint`` truncates lineage (driver-side
  iteration is the documented Spark pattern for iterative graph algs);
- the groupBy(min) reductions are map-side combinable — skewed star
  centers cost one combiner pass, not a shuffle explosion;
- at 10^12 nodes you would dictionary-encode ids to longs first; string
  ids are kept here for bit-stable determinism at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect all strictly-larger neighbors of each node to the min of
    its neighborhood (including itself)."""
    bidir = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = bidir.groupBy("src").agg(F.min("dst").alias("mn"))
    m = mins.select(
        F.col("src"), F.least("mn", "src").alias("m")
    )
    joined = bidir.join(m, "src")
    return (
        joined.filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to the larger endpoint; connect all neighbors (and
    the center) to the neighborhood min."""
    oriented = _canonical(edges)  # src > dst
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(mins, "src")
    relink = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    center = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        relink.union(center)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _local_components(pairs: list[tuple], spark, schema) -> DataFrame:
    """Union-find closure for a SMALL edge list already on the driver.

    Same contract as the distributed path: label = min node id of the
    component (numeric min for longs, lexicographic for strings — both
    match Spark's ``min`` on the same type)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in pairs:
        for n in (s, d):
            if n not in parent:
                parent[n] = n
        rs, rd = find(s), find(d)
        if rs != rd:
            # union by label order so the min id wins as the root
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, schema)


# distributed-path round budget, and how many rounds run between two
# convergence-signature jobs
_MAX_ITERATIONS = 20
_CHECK_EVERY = 2


def connected_components(
    edges: DataFrame, local_threshold: int = 100_000
) -> DataFrame:
    """edges(src, dst) → labels(mention_id, cluster_id).

    Node ids may be any orderable type (strings for mention ids,
    longs for doc ids — long ids shuffle/compare cheaper; callers at
    10^12 scale should dictionary-encode first).

    Alternates large-star/small-star until the edge set is stable
    (count + order-insensitive checksum), localCheckpointing each round
    to cut lineage (SURVEY §4 'iterative convergence' row). The
    convergence signature is only computed every ``_CHECK_EVERY``
    iterations — the algorithm has a strictly decreasing potential
    (Kiveris et al. §3), so equal signatures ``_CHECK_EVERY`` apart can
    only mean a fixpoint, and the count/checksum job is half the
    per-iteration driver cost.

    Size gate: the first signature job already collects the exact edge
    count; when it is ≤ ``local_threshold`` the closure runs as a
    driver-side union-find instead of O(log n) Spark rounds — a
    100k-edge list is a few MB, while each distributed round costs
    several scheduled stages regardless of size. This is the common
    case for THIS engine by design: CC inputs are entity-level
    representative graphs (cluster_mentions) or verified near-dup
    edges, both orders of magnitude smaller than the row counts they
    summarize. Graphs above the gate take the distributed path
    unchanged; set ``local_threshold=0`` to force it."""
    cur = _canonical(edges).localCheckpoint(eager=True)

    def _sig(e: DataFrame) -> tuple[int, int]:
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            # bit_xor is order-insensitive and cannot overflow (ANSI mode)
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    sig = _sig(cur)
    if sig[0] <= local_threshold:
        spark = edges.sparkSession
        id_type = dict(edges.dtypes)["src"]
        pairs = [(r["src"], r["dst"]) for r in cur.collect()]
        return _local_components(
            pairs, spark, f"mention_id {id_type}, cluster_id {id_type}"
        )
    for it in range(_MAX_ITERATIONS):
        # lazy checkpoint: lineage still truncates at materialization,
        # but the separate eager-checkpoint job disappears — the
        # signature collect (every _CHECK_EVERY rounds) materializes
        # _CHECK_EVERY rounds in ONE job.
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        if it % _CHECK_EVERY == _CHECK_EVERY - 1 or it == _MAX_ITERATIONS - 1:
            nsig = _sig(nxt)
            if nsig == sig:
                cur = nxt
                break
            sig = nsig
        cur = nxt

    # At convergence every edge points at its component root; a node may
    # still appear as src of several edges — take the min.
    return cur.groupBy("src").agg(F.min("dst").alias("cluster_id")).select(
        F.col("src").alias("mention_id"), "cluster_id"
    )


def cluster_mentions(
    linked: DataFrame, extra_edges: DataFrame | None = None
) -> DataFrame:
    """linked mention instances → (mention_id, cluster_id, prediction).

    Scale design: connected components never runs over mention
    instances (10^12 at target scale). Mentions sharing a prediction
    are one component by construction, so the CC input is the
    **entity-level graph**: the prediction ids themselves, connected by
    any ``extra_edges`` carrying cross-entity merge evidence
    (prediction_a, prediction_b) — e.g. same-conversation coreference
    or alias-equivalence rules. CC cost is O(|entities|).

    cluster_id = min prediction (QID, lexicographic) of the component —
    a deterministic canonical label in *prediction space* (SURVEY §7.1
    M4); NIL and unmatched mentions are singleton clusters labelled by
    their own mention_id. Labelling in prediction space instead of the
    earlier min-mention-id convention removes an instance-wide
    aggregation AND the label join from the common (no-extra-edges)
    path entirely: the label is a projection of columns the row already
    carries, so resolving 10^12 mentions costs zero extra passes, and
    the with-edges path joins only a tiny prediction→label map."""
    # cluster_id is always a string: labels mix prediction ids with
    # mention ids (NIL singletons), and callers may use numeric
    # mention_id types (the HIPE/gate corpora do)
    non_nil_label = F.when(
        F.col("prediction") != "NIL", F.col("prediction")
    ).otherwise(F.col("mention_id").cast("string"))
    if extra_edges is None:
        return linked.withColumn("cluster_id", non_nil_label)
    # Cross-entity merge evidence: close over the prediction graph.
    # Edge endpoints are restricted to predictions actually present
    # (an absent middle node must not transitively bridge two present
    # ones).
    present = (
        linked.filter(F.col("prediction") != "NIL")
        .select("prediction")
        .distinct()
    )
    sym = (
        extra_edges.select(
            F.col("prediction_a").alias("src"), F.col("prediction_b").alias("dst")
        )
        .join(present.withColumnRenamed("prediction", "src"), "src", "semi")
        .join(present.withColumnRenamed("prediction", "dst"), "dst", "semi")
    )
    labels = connected_components(sym.select("src", "dst")).select(
        F.col("mention_id").alias("prediction"), F.col("cluster_id").alias("lbl")
    )
    mapped = present.join(labels, "prediction", "left").select(
        "prediction", F.coalesce("lbl", "prediction").alias("lbl")
    )
    return (
        linked.join(mapped, "prediction", "left")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("lbl"), F.col("mention_id").cast("string")),
        )
        .drop("lbl")
    )
