"""Streaming ingest + incremental clustering: two micro-batches must
produce the same cluster assignment for the same entity (stable roots
across batches), the streamed partition must equal the batch one, and a
replayed batch id must leave the output unchanged."""

import os

import pytest

from t_res_spark.streaming.incremental import (
    TRANSCRIPT_SCHEMA_DDL,
    IncrementalResolver,
    stream_transcripts,
)


@pytest.fixture()
def alias_kb(spark):
    rows = [
        ("Tarvik", "E1", 0.875, 1000.0),
        ("Tarvvik", "E1", 0.125, 100.0),
        ("Belford", "E2", 0.75, 800.0),
    ]
    return spark.createDataFrame(
        rows, "alias string, qid string, relv double, abs_relv double"
    )


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_incremental_two_batches(
    spark, alias_kb, tmp_path, scratch_root, persisted_rdds
):
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    from datetime import datetime

    t = datetime(2024, 1, 1)
    _write_batch(spark, in_dir, [("c1", 0, "user", "we saw Tarvik today", None, t)])

    cached = persisted_rdds()
    stream = stream_transcripts(spark, in_dir)
    resolver = IncrementalResolver(spark, alias_kb, state)
    q = resolver.start(stream)
    assert q.awaitTermination(120), 'stream did not drain in 120s'

    # batch 2: same entity via OCR variant + a new entity
    _write_batch(
        spark, in_dir,
        [("c2", 0, "user", "report from Tarvvik and Belford", None, t)],
    )
    q2 = resolver.start(stream_transcripts(spark, in_dir))
    assert q2.awaitTermination(120), 'stream did not drain in 120s'
    # each micro-batch releases its resolve() run: no scratch dir, no cache
    assert not list(scratch_root.glob("tres_run_*"))
    assert persisted_rdds() <= cached

    out = spark.read.parquet(os.path.join(state, "clusters"))
    rows = {r["mention_id"]: r for r in out.collect()}
    tarvik = [r for r in rows.values() if r["prediction"] == "E1"]
    assert len(tarvik) >= 2
    assert len({r["cluster_id"] for r in tarvik}) == 1  # stable across batches
    assert any(r["prediction"] == "E2" for r in rows.values())


def test_streaming_equals_batch_partition(spark, alias_kb, tmp_path):
    """Cross-path equivalence: IncrementalResolver over 3 micro-batch
    splits induces EXACTLY the same partition of mentions into clusters
    as ``resolve()`` over the whole corpus, NIL singletons included.
    Labels differ by design (streaming pins mention-space roots for the
    state-table pattern; batch labels in prediction space), so the
    invariant is the induced partition, not the label strings."""
    import random
    from datetime import datetime

    from t_res_spark.plans.pipeline import resolve

    rng = random.Random(7)
    # exact surfaces, known OCR variants, an unseen-but-close variant
    # (fuzzy path), and capitalised non-alias words (NIL singletons:
    # the cased tagger extracts them, no alias is within the threshold)
    surfaces = ["Tarvik", "Tarvvik", "Belford", "Belfordd", "Quorvex", "Zimbu"]
    t0 = datetime(2024, 1, 1)
    corpus = [
        (f"c{i // 4}", i % 4, "user", f"we saw {rng.choice(surfaces)} today",
         None, t0)
        for i in range(24)
    ]

    # --- batch path over the full corpus -----------------------------
    full = spark.createDataFrame(
        corpus, "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp"
    )
    res = resolve(spark, full, alias_kb)
    batch_pairs = [
        (r["mention_id"], r["cluster_id"])
        for r in res.clusters.select("mention_id", "cluster_id").collect()
    ]
    res.unpersist()

    # --- streaming path: same corpus in 3 splits ---------------------
    in_dir = str(tmp_path / "eq_in")
    state = str(tmp_path / "eq_state")
    resolver = IncrementalResolver(spark, alias_kb, state)
    for lo, hi in ((0, 8), (8, 16), (16, 24)):
        _write_batch(spark, in_dir, corpus[lo:hi])
        q = resolver.start(stream_transcripts(spark, in_dir))
        assert q.awaitTermination(120), 'stream did not drain in 120s'

    out = spark.read.parquet(os.path.join(state, "clusters")).collect()
    stream_pairs = [(r["mention_id"], r["cluster_id"]) for r in out]

    def partition(pairs):
        clusters = {}
        for mid, cid in pairs:
            clusters.setdefault(cid, set()).add(mid)
        return {frozenset(v) for v in clusters.values()}

    assert dict(stream_pairs), "streaming produced no mentions"
    assert len(dict(stream_pairs)) == len(stream_pairs), "duplicate mention rows"
    assert partition(stream_pairs) == partition(batch_pairs)
    assert any(r["prediction"] == "NIL" for r in out), "no NIL mention streamed"


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])
def test_replayed_batch_is_a_noop(spark, alias_kb, tmp_path, as_uri):
    """foreachBatch is at-least-once: Spark re-runs a batch id whose
    micro-batch failed before its checkpoint commit. Replaying batch 1
    must leave ``clusters`` exactly as it was, on a plain path and on a
    ``file://`` URI state dir alike. ``process_batch`` is called
    directly; no stream is needed to replay a batch id."""
    from datetime import datetime

    state = tmp_path / "state"
    resolver = IncrementalResolver(
        spark, alias_kb, state.as_uri() if as_uri else str(state)
    )
    t = datetime(2024, 1, 1)

    def batch(rows):
        return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA_DDL)

    def state_rows():
        clusters = spark.read.parquet(str(state / "clusters"))
        roots = spark.read.parquet(str(state / "cluster_roots"))
        return (
            sorted(map(tuple, clusters.select("mention_id", "prediction", "cluster_id").collect())),
            sorted(map(tuple, roots.select("prediction", "cluster_id").collect())),
        )

    resolver.process_batch(batch([("c1", 0, "user", "we saw Tarvik today", None, t)]), 0)
    second = batch([("c2", 0, "user", "report from Tarvvik and Belford", None, t)])
    resolver.process_batch(second, 1)
    before = state_rows()
    assert len(before[0]) == 3 and len(before[1]) == 2
    resolver.process_batch(second, 1)
    assert state_rows() == before
