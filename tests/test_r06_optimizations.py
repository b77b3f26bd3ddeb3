"""Focused regression tests for the round-6 operator reshapes.

Each test pins an optimization whose INTERNALS changed against the
semantics it must preserve:

- srp_buckets_arrow / ivf_cells_arrow (Arrow matmul decisions) must
  agree row-for-row with a pure-Python ``math.fsum`` reference on a
  seeded gaussian corpus whose sign/argmax margins (~1e-3) dwarf
  float-reorder noise (the gate corpora's margins are audited in
  tests/test_ann_margins.py), and keep the oracle's tie orders on
  exact ties;
- the min_by rewrite of align_spans/align_gold_tokens must reproduce
  the old window ordering INCLUDING the null edge cases (unaligned
  rows, mixed matched+unmatched groups, overlap ties);
- embedding_near_duplicates' ids-only pair path must keep cosines
  bit-identical to a direct per-pair cosine.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _rand_vecs(spark, n=60, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _fsum_dot(a, b):
    return math.fsum(x * y for x, y in zip(a, b))


def test_srp_buckets_arrow_matches_fsum_reference(spark):
    from t_res_spark.operators.similarity_search import (
        _hyperplanes,
        srp_buckets_arrow,
    )

    vecs = _rand_vecs(spark)
    planes = [_hyperplanes(16, 6, seed=42 + t) for t in range(3)]
    want = {
        (r["vec_id"], t): sum(
            1 << b for b, p in enumerate(ps) if _fsum_dot(r["embedding"], p) > 0
        )
        for r in vecs.collect()
        for t, ps in enumerate(planes)
    }
    arrow = srp_buckets_arrow(vecs, "vec_id", "embedding", planes)
    got = {(r["vec_id"], r["table_id"]): r["bucket"] for r in arrow.collect()}
    assert got == want and len(got) == 60 * 3


def _ref_cells(vec, cents, nprobe=None):
    """First maximum for the corpus assignment; (score desc, cell desc)
    for the query probes — the oracle's two tie orders."""
    s = [_fsum_dot(vec, c) for c in cents]
    if nprobe is None:
        return {s.index(max(s))}
    return set(sorted(range(len(s)), key=lambda c: (-s[c], -c))[:nprobe])


def _cells(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["vec_id"], set()).add(r["cell"])
    return out


def test_ivf_cells_arrow_matches_fsum_reference(spark):
    from t_res_spark.operators.similarity_search import (
        _hyperplanes,
        ivf_cells_arrow,
    )

    vecs = _rand_vecs(spark, seed=9)
    cents = _hyperplanes(16, 5, seed=11)
    rows = vecs.collect()
    for nprobe in (None, 1, 3):
        got = _cells(ivf_cells_arrow(vecs, "vec_id", "embedding", cents, nprobe))
        want = {r["vec_id"]: _ref_cells(r["embedding"], cents, nprobe) for r in rows}
        assert got == want, nprobe


def test_ivf_cells_arrow_exact_tie_orders(spark):
    """Duplicated centroids give exact score ties: the corpus side keeps
    the first maximum, the probe side orders (score desc, cell desc)."""
    from t_res_spark.operators.similarity_search import ivf_cells_arrow

    cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.0, 1.0]]
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.5])], "vec_id long, embedding array<double>"
    )

    def cells(nprobe):
        return _cells(ivf_cells_arrow(vecs, "vec_id", "embedding", cents, nprobe))[0]

    assert cells(None) == {0}
    assert cells(1) == {2}
    assert cells(3) == {2, 0, 3}


def _window_align_spans_reference(pred, gold):
    """The pre-r6 row_number-window implementation, kept verbatim as
    the semantic reference for the min_by rewrite."""
    overlap = F.least(F.col("end_char"), F.col("gold_end")) - F.greatest(
        F.col("start_char"), F.col("gold_start")
    )
    p, g = pred.alias("p"), gold.alias("g")
    cond = (
        (F.col("p.conv_id") == F.col("g.conv_id"))
        & (F.col("p.turn_idx") == F.col("g.turn_idx"))
        & (F.col("p.start_char") < F.col("g.gold_end"))
        & (F.col("g.gold_start") < F.col("p.end_char"))
    )
    joined = p.join(g, cond, "left").drop(F.col("g.conv_id")).drop(
        F.col("g.turn_idx")
    )
    w = Window.partitionBy("conv_id", "turn_idx", "start_char").orderBy(
        F.desc(overlap), F.asc("gold_start"), F.asc("gold_qid")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("overlap_chars", F.greatest(overlap, F.lit(0)))
    )


def test_align_spans_min_by_matches_window_reference(spark):
    from t_res_spark.operators.alignment import align_spans

    pred = spark.createDataFrame(
        [
            # overlapping golds, distinct overlaps
            ("c1", 0, "A", 10, 20),
            # overlap TIE between two golds -> earliest gold_start wins
            ("c1", 0, "B", 40, 50),
            # unaligned prediction (must survive with NULL gold)
            ("c1", 0, "C", 90, 95),
            # same turn, second pred; gold overlaps only this one
            ("c2", 1, "D", 5, 9),
        ],
        "conv_id string, turn_idx int, mention string, start_char int, end_char int",
    )
    gold = spark.createDataFrame(
        [
            ("c1", 0, "g1", 12, 20, "Q1"),   # overlap 8 with A
            ("c1", 0, "g2", 15, 25, "Q2"),   # overlap 5 with A
            ("c1", 0, "g3", 38, 46, "Q3"),   # overlap 6 with B
            ("c1", 0, "g4", 44, 52, "Q4"),   # overlap 6 with B (tie)
            ("c2", 1, "g5", 6, 8, "Q5"),     # inside D
        ],
        "conv_id string, turn_idx int, gold_mention string, gold_start int, gold_end int, gold_qid string",
    )
    got = {
        (r["conv_id"], r["start_char"]): (
            r["gold_mention"], r["gold_qid"], r["overlap_chars"]
        )
        for r in align_spans(pred, gold).collect()
    }
    want = {
        (r["conv_id"], r["start_char"]): (
            r["gold_mention"], r["gold_qid"], r["overlap_chars"]
        )
        for r in _window_align_spans_reference(pred, gold).collect()
    }
    assert got == want
    # the tie case resolved to the earlier gold_start
    assert got[("c1", 40)][0] == "g3"
    # the unaligned case survived with NULL gold columns. (Its
    # overlap_chars is end-start, not 0: Spark's least/greatest SKIP
    # nulls, so the overlap expression degenerates to
    # end_char - start_char on unaligned rows — a pre-existing quirk of
    # the window implementation that the min_by rewrite reproduces
    # exactly, as the got == want equality above pins.)
    assert got[("c1", 90)] == (None, None, 5)


def test_align_gold_tokens_min_by_matches_rules(spark):
    from t_res_spark.operators.alignment import align_gold_tokens

    tokens = spark.createDataFrame(
        [
            ("c", 0, 10, 13),   # B- (starts at gold_start)
            ("c", 0, 14, 17),   # I- (inside)
            ("c", 0, 16, 22),   # O  (overhangs gold_end)
            ("c", 0, 50, 53),   # O  (no span)
            # token covered by TWO spans -> earliest gold_start labels it
            ("c", 1, 31, 33),
        ],
        "conv_id string, turn_idx int, tok_start int, tok_end int",
    )
    gold = spark.createDataFrame(
        [
            ("c", 0, 10, 18, "loc", "Q7"),
            ("c", 1, 30, 40, "loc", "Q8"),
            ("c", 1, 31, 40, "loc", "Q9"),
        ],
        "conv_id string, turn_idx int, gold_start int, gold_end int, gold_type string, gold_qid string",
    )
    got = {
        (r["turn_idx"], r["tok_start"]): (r["entity"], r["link"])
        for r in align_gold_tokens(tokens, gold).collect()
    }
    assert got[(0, 10)] == ("B-LOC", "B-Q7")
    assert got[(0, 14)] == ("I-LOC", "I-Q7")
    assert got[(0, 16)] == ("O", "O")
    assert got[(0, 50)] == ("O", "O")
    assert got[(1, 31)] == ("I-LOC", "I-Q8")  # earliest span (30) wins; 31>30 -> I-


def test_embedding_neardup_ids_only_cosines_exact(spark):
    """The ids-only pair reshape + hoisted norms must produce the same
    clusters as brute-force cosine >= threshold closure on a corpus
    with planted scaled copies."""
    from t_res_spark.operators.dedup import embedding_near_duplicates

    vecs = _rand_vecs(spark, n=40, dim=12, seed=21)
    planted = vecs.filter(F.col("vec_id") % 5 == 0).select(
        (-F.col("vec_id") - 1).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    allv = vecs.unionByName(planted)
    out = {
        int(r["doc_id"]): r["dup_cluster"]
        for r in embedding_near_duplicates(allv, threshold=0.99, dim=12).collect()
    }
    # every planted copy clusters with its original, labelled by the min id
    for vid in range(0, 40, 5):
        assert out[vid] == out[-vid - 1] == str(-vid - 1)
    # non-planted vectors stay singletons (gaussian cosines << 0.99)
    others = [v for v in range(40) if v % 5]
    assert all(out[v] == str(v) for v in others)
