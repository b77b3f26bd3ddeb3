"""Round-6 measurement harness (guide §1.4): noop-sink isolation of the
expensive gate queries plus sub-stage timings for the d2 minhash path
and the ctx coherence path. Separate from the FROZEN bench.py — numbers
from here are cited in OPTIMIZATION_r06.md, never in the driver record.

Usage: python bench_extra.py [stage ...]
  stages: queries d2 ctx ann  (default: all)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), TRES_XBENCH_SAMPLES (default 3).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SAMPLES = int(os.environ.get("TRES_XBENCH_SAMPLES", "3"))

QUERY_LIST = [
    "d2_minhash_clusters",
    "ctx_disambiguate",
    "ann_lsh_topk",
    "d5_embedding_neardup",
    "ann_ivf_topk",
    "s6_embedding_topk",
    "j6_align_spans",
    "j7_align_gold",
    "d3b_simhash_pairs",
    "e2e_experiment",
    "er_pipeline",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label: str, make_df, samples: int = SAMPLES) -> list[list[float]]:
    """Median-of-N noop-sink timing with [wall, cpu, load] stamps
    (VERDICT r5 #3: wall >> cpu identifies a neighbor burst
    in-record)."""
    out = []
    for _ in range(samples):
        load = os.getloadavg()[0]
        spark.sparkContext.setJobDescription(f"xbench: {label}")
        c0 = time.process_time()
        t0 = time.time()
        _noop(make_df())
        out.append([round(time.time() - t0, 3),
                    round(time.process_time() - c0, 3),
                    round(load, 1)])
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        gc.collect()
    return out


def bench_queries(spark, names=None) -> dict:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    res = {}
    for name in names or QUERY_LIST:
        try:
            res[name] = _timed(spark, name, lambda: qs[name](spark, SF_DIR))
        except Exception as e:  # e.g. er_pipeline's fixture guard at sf1.0
            res[name] = f"error: {e}"
        print(f"[xbench] {name}: {res[name]}", file=sys.stderr)
    return res


def bench_d2_stages(spark) -> dict:
    """Sub-stage isolation of the d2 minhash near-dup path."""
    from t_res_spark.operators.dedup import (
        _rebalance,
        jaccard_verify,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    import __spark_entry__ as entry_mod

    entry_mod._register(spark, SF_DIR)
    docs = _rebalance(spark.table("documents"))
    res = {}
    res["sig_only"] = _timed(
        spark, "d2/sig", lambda: minhash_signatures(docs, "text", 64, 5)
    )
    sigs = minhash_signatures(docs, "text", 64, 5)
    res["sig+pairs"] = _timed(
        spark, "d2/pairs",
        lambda: minhash_lsh_pairs(sigs, 16, 4, estimate_threshold=0.5),
    )
    near = minhash_lsh_pairs(sigs, 16, 4, estimate_threshold=0.5).localCheckpoint(
        eager=True
    )
    res["verify_only"] = _timed(
        spark, "d2/verify", lambda: jaccard_verify(docs, near, "text", 5, 0.5)
    )
    # shingle construction alone (the interpreted HOF pass)
    from t_res_spark.operators.dedup import _shingles

    res["shingles_only"] = _timed(
        spark, "d2/shingles",
        lambda: docs.select("doc_id", _shingles(F.col("text"), 5).alias("sh")),
    )
    res["explode_hash_only"] = _timed(
        spark, "d2/explode",
        lambda: docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    _shingles(F.col("text"), 5),
                    lambda s: F.pmod(F.xxhash64(s), F.lit((1 << 31) - 1)),
                )
            ).alias("x"),
        ),
    )
    for k, v in res.items():
        print(f"[xbench] d2/{k}: {v}", file=sys.stderr)
    return res


def bench_ctx_stages(spark) -> dict:
    """ctx_disambiguate stage isolation: candidate prep + prerank vs
    the applyInPandas coherence kernel."""
    import __spark_entry__ as entry_mod
    from t_res_spark.operators import context as C

    entry_mod._register(spark, SF_DIR)
    mentions = spark.sql(entry_mod.CTX_MENTIONS_SQL)
    cands = entry_mod._candidates_df(spark)
    res = {}
    res["full"] = _timed(
        spark, "ctx/full",
        lambda: C.context_disambiguate(mentions, cands, round_dp=None),
    )
    res["loops0_noprerank"] = _timed(
        spark, "ctx/l0",
        lambda: C.context_disambiguate(
            mentions, cands, prerank=False, n_loops=0, round_dp=None
        ),
    )
    res["loops10_noprerank"] = _timed(
        spark, "ctx/l10",
        lambda: C.context_disambiguate(
            mentions, cands, prerank=False, n_loops=10, round_dp=None
        ),
    )
    for k, v in res.items():
        print(f"[xbench] ctx/{k}: {v}", file=sys.stderr)
    return res


def bench_ann_stages(spark) -> dict:
    """ANN decomposition: bucketing projection alone vs full query."""
    import __spark_entry__ as entry_mod
    from t_res_spark.operators.similarity_search import (
        _hyperplanes,
        srp_buckets_arrow,
    )

    entry_mod._register(spark, SF_DIR)
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dim = entry_mod._embeddings_dim(spark, SF_DIR)
    planes = [_hyperplanes(dim, 8, 42 + t) for t in range(4)]
    res = {}
    res["bucket_proj_only"] = _timed(
        spark, "ann/bucket",
        lambda: srp_buckets_arrow(emb, "vec_id", "embedding", planes),
    )
    from t_res_spark.operators.similarity_search import cosine

    first = emb.limit(1).select(F.col("embedding").alias("qv"))
    res["cosine_scan_only"] = _timed(
        spark, "ann/cosine",
        lambda: emb.crossJoin(F.broadcast(first)).select(
            "vec_id", cosine(F.col("embedding"), F.col("qv")).alias("c")
        ),
    )
    for k, v in res.items():
        print(f"[xbench] ann/{k}: {v}", file=sys.stderr)
    return res


def main() -> None:
    from t_res_spark.session import get_spark, warm_python_workers

    stages = sys.argv[1:] or ["queries", "d2", "ctx", "ann"]
    spark = get_spark(
        app_name="t_res_spark-xbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(os.environ.get("TRES_SHUFFLE_PARTITIONS", CPUS)),
    )
    warm_python_workers(spark)
    import __spark_entry__ as entry_mod

    entry_mod._register(spark, SF_DIR)
    for t in ("nation", "documents", "embeddings"):
        try:
            spark.table(t).count()
        except Exception:
            pass

    out: dict = {"sf_dir": SF_DIR, "cpus": int(CPUS)}
    if "queries" in stages:
        out["queries"] = bench_queries(spark)
    if "d2" in stages:
        out["d2_stages"] = bench_d2_stages(spark)
    if "ctx" in stages:
        out["ctx_stages"] = bench_ctx_stages(spark)
    if "ann" in stages:
        out["ann_stages"] = bench_ann_stages(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
