"""The traced run: per-layer time and counts, measured from outside.

Each layer is entered through its public function on inputs that are
already materialized, and its output is materialized inside the span, so
a span's duration is that layer's self time. The resolve stages are cut
where ``resolve()`` cuts them (see ``resolve_layers``). Spans (name,
start, end, parent, op id) stay in memory until the run ends. Spark
job/stage/task counts come from the status tracker, read under a job
group set per op once the listener bus has drained; correctness checks
run under a group of their own. A round whose counts differ from the
first round's fails the run's checks.

Every traced run measures every layer: the resolve stages on the
resolve_bulk corpus, one /resolve_sentence request against the same
knowledge base, and the dedup and ANN operators on the corpus_dedup
corpus. After one untraced warm-up op, the named workload's layers are
measured over repeated rounds (at least two, until --seconds have
passed), each starting with an untraced op that gives the tracing
overhead. The other workload's layers are then measured once, with the
JVM already warm from the rounds, and the request once after one
warm-up request of the same sentence.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from t_res_spark.operators import (
    blocking, clustering, dedup, extraction, gazetteer, linking, ranking,
)
from t_res_spark.plans import api, pipeline
from t_res_spark.serving import TResService, start_server

from . import workloads as wl


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.checks: list[bool] = []  # output checks of every op run
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: str, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({
                "name": name, "op_id": op_id, "parent": parent,
                "start": start - self._t0, "end": time.perf_counter() - self._t0,
            })

    def ms(self, name: str, op_id: str) -> float:
        s = [x for x in self.spans if x["name"] == name and x["op_id"] == op_id]
        return 1000.0 * sum(x["end"] - x["start"] for x in s)

    def group(self, op_id: str) -> None:
        """Tag Spark jobs started from this thread with ``op_id``."""
        self.sc.setJobGroup(op_id, op_id)

    def counts(self, op_id: str) -> dict:
        # the status store is filled from the listener bus, asynchronously
        # to the action that ran the jobs: drain the bus before reading it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _forced(df):
    """Persist ``df`` and compute it once through a noop sink."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.write.format("noop").mode("overwrite").save()
    return df


def _release(*dfs) -> None:
    for df in dfs:
        df.unpersist()


# ---------------------------------------------------------------------------
# resolve_bulk layers
# ---------------------------------------------------------------------------


def checked(tr: Tracer, spark, w, op, check):
    """Run ``op`` untraced and record its output check (which releases its
    result)."""
    tr.group("untraced")
    out = op(spark, w)
    tr.checks.append(check(spark, w, out))
    return out


def resolve_traced_op(spark, w, tr: Tracer, op_id: str) -> dict:
    tr.group(op_id)
    with tr.span("pipeline", op_id):
        out = wl.resolve_op(spark, w)
    counts = tr.counts(op_id)
    tr.group(op_id + ":check")  # the check's own jobs are not the op's
    tr.checks.append(wl.resolve_check(spark, w, out))
    return {"pipeline.ms": tr.ms("pipeline", op_id), "counts": counts}


def _parquet_cut(spark, df, path: str):
    """Write ``df`` to parquet and read it back, as ``resolve()`` does with
    its small per-surface stages."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def resolve_layers(spark, w, tr: Tracer, op_id: str, workdir: str) -> dict:
    """Each stage of ``resolve()``, cut where ``_resolve_stages`` cuts it:
    mentions persisted, surfaces and predictions written to parquet.
    ``resolve()`` fuses ranking into the predictions write and linking
    into the clusters write; the two extra cuts here (candidates and
    linked, persisted) give those stages spans of their own."""
    f = w.frames
    cfg = pipeline.PipelineConfig()
    scratch = wl.fresh_dir(f"{workdir}/{op_id}")
    tr.group(op_id)
    with tr.span("extraction", op_id):
        mentions = extraction.extract_mentions(f["transcripts"]).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        surfaces = _parquet_cut(
            spark, extraction.distinct_mentions(mentions), f"{scratch}/surfaces"
        )
    with tr.span("ranking", op_id):
        candidates = _forced(ranking.find_candidates(
            surfaces, f["aliases"], method=cfg.ranking_method,
            threshold=cfg.fuzzy_threshold, top_k=cfg.top_k,
            salt_factor=cfg.salt_factor,
        ))
    with tr.span("linking.predict", op_id):
        predictions = _parquet_cut(
            spark, linking.most_popular(candidates), f"{scratch}/predictions"
        )
    with tr.span("linking.link", op_id):
        linked = _forced(linking.link_mentions(mentions, predictions, f["entities"]))
    with tr.span("clustering", op_id):
        clusters = clustering.cluster_mentions(linked)
        clusters.write.format("noop").mode("overwrite").save()

    tr.group(op_id + ":counts")
    n_surfaces = surfaces.count()
    n_candidates = candidates.count()
    n_linked = linked.count()
    s_keys = blocking.with_block_keys(surfaces.select("mention"), "mention")
    a_keys = blocking.with_block_keys(
        ranking.clean_aliases(f["aliases"]).select("alias"), "alias"
    )
    pairs_blocked = (
        s_keys.groupBy("block_key").count().withColumnRenamed("count", "s")
        .join(a_keys.groupBy("block_key").count().withColumnRenamed("count", "a"),
              "block_key")
        .agg(F.sum(F.col("s") * F.col("a")).alias("p"))
        .collect()[0]["p"] or 0
    )
    skew = pipeline.blocking_metrics(surfaces).collect()[0]
    out = {
        "extraction.ms": tr.ms("extraction", op_id),
        "extraction.turns_in": w.items_per_op,
        "extraction.mentions_out": mentions.count(),
        "extraction.surfaces_out": n_surfaces,
        "ranking.ms": tr.ms("ranking", op_id),
        "ranking.surfaces_in": n_surfaces,
        "ranking.pairs_blocked": int(pairs_blocked),
        "ranking.candidates_out": n_candidates,
        "ranking.kept_ratio": n_candidates / max(int(pairs_blocked), 1),
        "blocking.p99_block": int(skew["p99"] or 0),
        "blocking.max_block": int(skew["max_block"] or 0),
        "linking.predict_ms": tr.ms("linking.predict", op_id),
        "linking.link_ms": tr.ms("linking.link", op_id),
        "linking.nil_ratio": linked.filter(F.col("prediction") == linking.NIL).count()
        / max(n_linked, 1),
        "clustering.ms": tr.ms("clustering", op_id),
        "clustering.clusters_out": clusters.select("cluster_id").distinct().count(),
    }
    _release(linked, candidates, mentions)
    shutil.rmtree(scratch, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# serving layers (the /resolve_sentence path over the resolve_bulk KB)
# ---------------------------------------------------------------------------


class _TracedService(TResService):
    """Times ``run_text`` inside the request thread, under the op's job group."""

    def __init__(self, tracer: Tracer, *a, **kw):
        super().__init__(*a, **kw)
        self.tracer = tracer
        self.op_id = "serve"

    def resolve_sentence(self, text: str) -> list[dict]:
        self.tracer.group(self.op_id)
        with self.tracer.span("api.run_text", self.op_id, parent="serving.request"):
            return super().resolve_sentence(text)


def pick_sentence(w, seed: int) -> str:
    """Seeded draw of a turn that carries at least one planted KB mention."""
    fx = w.extra["fixture"]
    p = fx.planted[fx.planted["qid"].notna()]
    keyed = fx.transcripts.merge(p[["conv_id", "turn_idx"]].drop_duplicates())
    return keyed.sample(n=1, random_state=seed)["text"].iloc[0]


class Server:
    def __init__(self, spark, w, tr: Tracer):
        f = w.frames
        self.service = _TracedService(tr, spark, f["aliases"], entities=f["entities"])
        self.httpd, self.thread = start_server(self.service)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}/resolve_sentence"
        self.responses: dict[str, bytes] = {}

    def request(self, text: str) -> bool:
        """One POST; True when it returns 200 and repeats its first body."""
        req = urllib.request.Request(
            self.url, data=json.dumps({"text": text}).encode(), method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=170) as r:
            status, body = r.status, r.read()
        first = self.responses.setdefault(text, body)
        return status == 200 and body == first

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


def serving_layers(spark, w, srv: Server, tr: Tracer, op_id: str, text: str) -> dict:
    srv.service.op_id = op_id
    with tr.span("serving.request", op_id):
        ok = srv.request(text)
    latency = tr.ms("serving.request", op_id)
    run_text = tr.ms("api.run_text", op_id)
    counts = tr.counts(op_id)
    sentences = spark.createDataFrame(
        [("t0", i, "user", s, None, None) for i, s, _ in api.split_sentences(text)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    tr.group(op_id + ":gaz")
    with tr.span("gazetteer", op_id):
        _release(_forced(gazetteer.extract_mentions_full(sentences, w.frames["aliases"])))
    return {
        "api.run_text_ms": run_text,
        "gazetteer.ms": tr.ms("gazetteer", op_id),
        "serving.http_overhead_ms": latency - run_text,
        "serving.latency_ms": latency,
        "serving.spark_jobs": counts["jobs"],
        "serving.ok": ok,
    }


# ---------------------------------------------------------------------------
# corpus_dedup layers
# ---------------------------------------------------------------------------


def dedup_traced_op(spark, w, tr: Tracer, op_id: str) -> dict:
    outs = wl.dedup_outputs(w.frames)
    spans = {"minhash": "dedup.minhash", "simhash": "dedup.simhash",
             "embedding": "dedup.embedding", "ann": "ann"}
    rows = {}
    tr.group(op_id)
    with tr.span("dedup.pass", op_id):
        for key, build in outs.items():
            with tr.span(spans[key], op_id, parent="dedup.pass"):
                rows[key] = build().collect()
    counts = tr.counts(op_id)
    tr.checks.append(wl.dedup_check(spark, w, wl.OpResult(0.0, 0, rows)))
    sizes: dict = {}
    for r in rows["minhash"]:
        sizes[r["dup_cluster"]] = sizes.get(r["dup_cluster"], 0) + 1
    return {
        "dedup.pass_ms": tr.ms("dedup.pass", op_id),
        "dedup.minhash_ms": tr.ms("dedup.minhash", op_id),
        "dedup.simhash_ms": tr.ms("dedup.simhash", op_id),
        "dedup.simhash_pairs": len(rows["simhash"]),
        "dedup.embedding_ms": tr.ms("dedup.embedding", op_id),
        "dedup.clusters_out": sum(1 for n in sizes.values() if n > 1),
        "ann.ms": tr.ms("ann", op_id),
        "counts": counts,
    }


def minhash_layers(spark, w, tr: Tracer, op_id: str, workdir: str) -> dict:
    """Filter-then-verify counts of the MinHash path: ``lsh_pairs`` are the
    banding candidates, ``estimate_pairs`` those that also pass the
    signature-estimate pre-filter (fused into the banding, as
    ``near_duplicate_clusters`` runs it), ``verified_pairs`` those that
    pass the exact Jaccard verify."""
    docs = w.frames["docs"]
    tr.group(op_id)
    with tr.span("dedup.minhash_sig", op_id):
        sigs = _forced(dedup.minhash_signatures(docs))
    n_lsh = dedup.minhash_lsh_pairs(sigs).count()
    est = _forced(dedup.minhash_lsh_pairs(sigs, estimate_threshold=wl.DEDUP_THRESHOLD))
    n_est = est.count()
    n_ver = dedup.jaccard_verify(docs, est, threshold=wl.DEDUP_THRESHOLD).count()
    _release(est, sigs)
    return {
        "dedup.minhash_sig_ms": tr.ms("dedup.minhash_sig", op_id),
        "dedup.lsh_pairs": n_lsh,
        "dedup.estimate_pairs": n_est,
        "dedup.verified_pairs": n_ver,
        "dedup.verify_keep_ratio": n_ver / max(n_lsh, 1),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _median(rows: list[dict]) -> dict:
    keys = [k for k in rows[0] if k != "counts"]
    return {k: statistics.median(r[k] for r in rows) for k in keys}


# per workload: traced op, layer breakdown, and the op's own span metric
TRACED = {
    "resolve_bulk": (resolve_traced_op, resolve_layers, "pipeline.ms"),
    "corpus_dedup": (dedup_traced_op, minhash_layers, "dedup.pass_ms"),
}


def run(spark, name: str, seed: int, seconds: float, workdir: str, between_ops) -> dict:
    """Return (per-layer metrics, spans, notes) for one traced run."""
    tr = Tracer(spark)
    inputs = {
        "resolve_bulk": wl.setup_resolve(spark, seed, wl.fresh_dir(f"{workdir}/resolve")),
        "corpus_dedup": wl.setup_dedup(spark, seed, wl.fresh_dir(f"{workdir}/dedup")),
    }
    _, op, check = wl.WORKLOADS[name]
    srv = Server(spark, inputs["resolve_bulk"], tr)
    sentence = pick_sentence(inputs["resolve_bulk"], seed)

    def traced_round(kind: str, tag: str) -> dict:
        traced_op, layers, op_key = TRACED[kind]
        row = traced_op(spark, inputs[kind], tr, f"{kind}-op-{tag}")
        between_ops()
        row.update(layers(spark, inputs[kind], tr, f"{kind}-layers-{tag}", workdir))
        between_ops()
        row["op_ms"] = row[op_key]
        return row

    try:
        checked(tr, spark, inputs[name], op, check)  # warm-up
        between_ops()
        named_rows, base_ms = [], []
        t_start = time.perf_counter()
        while len(named_rows) < 2 or time.perf_counter() - t_start < seconds:
            base_ms.append(1000.0 * checked(tr, spark, inputs[name], op, check).seconds)
            between_ops()
            named_rows.append(traced_round(name, str(len(named_rows))))
        other = traced_round(next(k for k in TRACED if k != name), "x")
        srv.request(sentence)  # warm-up, and the first body for the repeat check
        between_ops()
        serve = serving_layers(spark, inputs["resolve_bulk"], srv, tr, "serve-x", sentence)
    finally:
        srv.close()

    other.pop("counts", None)
    layers = {**other, **_median(named_rows), **serve}
    stage_keys = ["extraction.ms", "ranking.ms", "linking.predict_ms",
                  "linking.link_ms", "clustering.ms"]
    stage_sum = sum(layers[k] for k in stage_keys)
    layers["pipeline.unattributed_ms"] = layers["pipeline.ms"] - stage_sum
    counts = [r["counts"] for r in named_rows]
    layers.update({f"spark.{k}": statistics.median(c[k] for c in counts)
                   for k in ("jobs", "stages", "tasks")})
    row_keys = [k for k in named_rows[0] if k.endswith(("_in", "_out", "_pairs", "pairs_blocked"))]
    repeat = all(c == counts[0] for c in counts) and all(
        r[k] == named_rows[0][k] for r in named_rows for k in row_keys
    )
    layers["trace.counts_repeat"] = float(repeat)
    tr.checks.append(repeat)
    layers["trace.overhead_ratio"] = (
        statistics.median(r["op_ms"] for r in named_rows) / statistics.median(base_ms)
    )
    layers["trace.stage_coverage"] = stage_sum / layers["pipeline.ms"]
    notes = {"rounds": len(named_rows), "untraced_op_ms": base_ms, "spark_counts": counts,
             "serving_ok": serve["serving.ok"], "checks": tr.checks}
    return {"layers": layers, "spans": tr.spans, "notes": notes}
