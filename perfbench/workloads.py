"""Seeded inputs, the timed op and its correctness check for each workload.

Every input is generated from the run's seed and written to parquet in
the run's work directory, so the program only ever receives files; an
op reads them back like a batch job reads its input.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import string
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from t_res_spark import datagen
from t_res_spark.operators import dedup, similarity_search
from t_res_spark.plans import pipeline

# resolve_bulk: a datagen corpus replicated REPLICAS times by conv_id.
# Replicating keeps set-up cheap: datagen's labelled-pair step is
# quadratic within a block and dominates generation above ~1k convs.
N_ENTITIES = 500
N_CONVS = 500
REPLICAS = 16

# corpus_dedup: the sf0.1 documents and embeddings, varied by seed, plus
# seeded planted near-duplicates; operator parameters as in the repo's
# own dedup and ANN queries
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
N_DOC_PLANTS = 125  # one-word-edit copies, 5% of the documents
PLANT_MIN_WORDS = 30
PLANT_ID_BASE = 1_000_000
N_VEC_PLANTS = 143  # 1.5x-scaled copies, as many as every 7th vector
EMB_DIM = 64
EMB_BITS = 12
N_QUERIES = 20
DEDUP_THRESHOLD = 0.5
EMB_THRESHOLD = 0.95
ANN_K = 10


def _fingerprint(rows) -> str:
    """Order-independent digest of a collected result."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _spark_fingerprint(df, cols) -> tuple:
    """Order-independent (count, xor, sum) digest computed in Spark."""
    h = F.xxhash64(*cols)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.pmod("h", F.lit(2**31))), F.lit(0)).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["x"]), int(row["s"])


def pairwise_f1(pred: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Pairwise F1 of predicted clusters against planted entities.

    ``truth``: (mention_id, qid) for every planted mention, qid None for
    NIL plants (each its own entity). ``pred``: (mention_id, cluster_id)
    for every extracted mention; a planted mention that was not
    extracted is its own predicted cluster."""
    df = truth.merge(pred, on="mention_id", how="left")
    df["qid"] = df["qid"].where(df["qid"].notna(), "nil:" + df["mention_id"])
    df["cluster_id"] = df["cluster_id"].where(
        df["cluster_id"].notna(), "miss:" + df["mention_id"]
    )

    def pairs(counts: pd.Series) -> int:
        c = counts.to_numpy(dtype=np.int64)
        return int((c * (c - 1) // 2).sum())

    tp = pairs(df.groupby(["qid", "cluster_id"]).size())
    true_pairs = pairs(df.groupby("qid").size())
    pred_pairs = pairs(df.groupby("cluster_id").size())
    return 2 * tp / max(true_pairs + pred_pairs, 1)


@dataclass
class OpResult:
    seconds: float
    items: int
    output: object = None


@dataclass
class Workload:
    """A set-up input plus the op the benchmark times over it."""

    items_per_op: int
    reference: object = None
    quality: float | None = None
    frames: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# resolve_bulk
# ---------------------------------------------------------------------------


def resolve_corpus(seed: int):
    """(FixtureSet, amplified planted truth as (mention_id, qid))."""
    fx = datagen.generate(n_entities=N_ENTITIES, n_convs=N_CONVS, seed=seed)
    p = fx.planted
    reps = []
    for r in range(REPLICAS):
        reps.append(
            pd.DataFrame(
                {
                    "mention_id": p["conv_id"] + f"r{r}:" + p["turn_idx"].astype(str)
                    + ":" + p["start_char"].astype(str),
                    "qid": p["qid"],
                }
            )
        )
    return fx, pd.concat(reps, ignore_index=True)


def setup_resolve(spark, seed: int, workdir: str) -> Workload:
    fx, truth = resolve_corpus(seed)
    turns = pd.concat(
        [fx.transcripts.assign(conv_id=fx.transcripts["conv_id"] + f"r{r}")
         for r in range(REPLICAS)],
        ignore_index=True,
    )
    frames = {
        "transcripts": write_parquet(spark, turns, workdir, "transcripts", 8),
        "aliases": write_parquet(spark, fx.aliases, workdir, "aliases", 1),
        "entities": write_parquet(spark, fx.entities, workdir, "entities", 1),
    }
    return Workload(
        len(turns), frames=frames,
        extra={"truth": truth, "fixture": fx},
    )


def resolve_op(spark, w: Workload) -> OpResult:
    f = w.frames
    t0 = time.perf_counter()
    res = pipeline.resolve(
        spark, f["transcripts"], f["aliases"], entities=f["entities"]
    )
    res.clusters.write.format("noop").mode("overwrite").save()
    return OpResult(time.perf_counter() - t0, w.items_per_op, res)


def resolve_check(spark, w: Workload, out: OpResult) -> bool:
    """Fingerprint of (mention_id, cluster_id) equals the first op's;
    the first op also fixes the pairwise F1 against planted truth."""
    res = out.output
    try:
        fp = _spark_fingerprint(res.clusters, ["mention_id", "cluster_id"])
        if w.reference is None:
            pred = res.clusters.select("mention_id", "cluster_id").toPandas()
            w.quality = pairwise_f1(pred, w.extra["truth"])
            w.reference = fp
        return fp == w.reference and w.quality >= 0.9
    finally:
        res.unpersist()


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def dedup_corpus(seed: int):
    """(docs, vectors, queries, planted doc pairs, planted vector pairs).

    The base is the committed sf0.1 sample in ``corpus/`` (see make_data.py),
    with the corpus's own near-duplicate families. The seed varies it
    without changing its structure:

    - a seeded permutation of the letters maps every word to another
      word one to one, so each document keeps its shingle set, and so
      every Jaccard similarity; the strings, and so every hash the
      operators draw, change with the seed;
    - a seeded permutation and sign flip of the dimensions is an
      orthogonal map, so every cosine is kept while every SRP bucket
      changes.

    Planted near-duplicates are added on top. A document copy replaces
    the last word of a seeded original of at least PLANT_MIN_WORDS
    words, which changes one 5-shingle (Jaccard >= 25/27, LSH miss
    probability < 1e-9). A vector copy is a seeded original scaled by
    1.5 (cosine 1, every projection sign kept). So both detectors must
    recover every plant."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pandas()
    letters = string.ascii_lowercase
    rot = str.maketrans(letters, "".join(rng.permutation(list(letters))))
    docs["text"] = docs["text"].str.translate(rot)
    vocab = sorted({w for t in docs["text"] for w in t.split(" ")})
    words = docs["text"].str.split(" ")
    eligible = np.flatnonzero(words.str.len().to_numpy() >= PLANT_MIN_WORDS)
    doc_pairs, planted = [], []
    for i in sorted(rng.choice(eligible, N_DOC_PLANTS, replace=False)):
        w = list(words.iloc[i])
        w[-1] = rng.choice([v for v in vocab if v != w[-1]])
        a = int(docs["doc_id"].iloc[i])
        planted.append((PLANT_ID_BASE + a, " ".join(w)))
        doc_pairs.append((a, PLANT_ID_BASE + a))
    docs = pd.concat(
        [docs, pd.DataFrame(planted, columns=["doc_id", "text"])], ignore_index=True
    )

    emb = pq.read_table(os.path.join(DATA, "embeddings.parquet")).to_pandas()
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    x = x[:, rng.permutation(x.shape[1])] * rng.choice([-1.0, 1.0], x.shape[1])
    ids = emb["vec_id"].to_numpy()
    vecs = [(int(v), row.tolist()) for v, row in zip(ids, x)]
    picks = sorted(rng.choice(len(ids), N_VEC_PLANTS, replace=False))
    vecs += [(-(int(ids[i]) + 1), (x[i] * 1.5).tolist()) for i in picks]
    vec_pairs = [(int(ids[i]), -(int(ids[i]) + 1)) for i in picks]
    queries = [(int(ids[i]), x[i].tolist())
               for i in sorted(rng.choice(picks, N_QUERIES, replace=False))]
    return docs, vecs, queries, doc_pairs, vec_pairs


def setup_dedup(spark, seed: int, workdir: str) -> Workload:
    docs, vecs, queries, doc_pairs, vec_pairs = dedup_corpus(seed)
    tables = {
        "docs": (docs, 4),
        "vectors": (pd.DataFrame(vecs, columns=["vec_id", "embedding"]), 4),
        "queries": (pd.DataFrame(queries, columns=["q_id", "q_vec"]), 1),
    }
    frames = {
        name: write_parquet(spark, df, workdir, name, files)
        for name, (df, files) in tables.items()
    }
    return Workload(
        len(docs), frames=frames,
        extra={"doc_pairs": doc_pairs, "vec_pairs": vec_pairs,
               "queries": [q for q, _ in queries]},
    )


def dedup_outputs(f: dict) -> dict:
    """The four operators of one corpus_dedup pass, as thunks: building
    some of these frames already runs Spark jobs (eager checkpoints,
    connected components), so construction belongs inside the timing."""
    docs = f["docs"]
    return {
        "minhash": lambda: dedup.near_duplicate_clusters(docs, threshold=DEDUP_THRESHOLD),
        "simhash": lambda: dedup.simhash_near_pairs(dedup.simhash(docs)),
        "embedding": lambda: dedup.embedding_near_duplicates(
            f["vectors"], threshold=EMB_THRESHOLD, bits=EMB_BITS, dim=EMB_DIM
        ),
        "ann": lambda: similarity_search.lsh_topk(
            f["vectors"], f["queries"], dim=EMB_DIM, k=ANN_K
        ).select("q_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rnk"),
    }


def dedup_op(spark, w: Workload) -> OpResult:
    t0 = time.perf_counter()
    rows = {k: build().collect() for k, build in dedup_outputs(w.frames).items()}
    return OpResult(time.perf_counter() - t0, w.items_per_op, rows)


def _same_cluster_share(rows, pairs) -> tuple[int, int]:
    label = {int(r["doc_id"]): r["dup_cluster"] for r in rows}
    hit = sum(1 for a, b in pairs if label.get(a) is not None and label.get(a) == label.get(b))
    return hit, len(pairs)


def dedup_check(spark, w: Workload, out: OpResult) -> bool:
    """Fingerprints equal the first pass's; every planted pair is
    recovered; each ANN query finds itself and its planted copy."""
    rows = out.output
    fp = {k: _fingerprint(v) for k, v in rows.items()}
    if w.reference is None:
        h1, n1 = _same_cluster_share(rows["minhash"], w.extra["doc_pairs"])
        h2, n2 = _same_cluster_share(rows["embedding"], w.extra["vec_pairs"])
        w.quality = (h1 + h2) / (n1 + n2)
        top2 = {}
        for r in rows["ann"]:
            if r["rnk"] <= 2:
                top2.setdefault(int(r["q_id"]), set()).add(int(r["vec_id"]))
        w.extra["ann_ok"] = all(
            top2.get(q) == {q, -(q + 1)} for q in w.extra["queries"]
        )
        w.reference = fp
    return fp == w.reference and w.quality == 1.0 and w.extra["ann_ok"]


WORKLOADS = {
    "resolve_bulk": (setup_resolve, resolve_op, resolve_check),
    "corpus_dedup": (setup_dedup, dedup_op, dedup_check),
}


def write_parquet(spark, df: pd.DataFrame, workdir: str, name: str, files: int):
    """Write ``df`` as ``files`` parquet files (one scan split each) and
    return Spark's reader over them."""
    path = os.path.join(workdir, name)
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))
    return spark.read.parquet(path)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
