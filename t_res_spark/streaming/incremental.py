"""Streaming ingest of new transcript turns + incremental clustering.

The reference has no streaming surface at all (SURVEY §2.10) — its only
incremental behavior is a JSON memo-cache
(/root/reference/geoparser/ranking.py:315-316) and per-request HTTP
processing (/root/reference/app/app_template.py:64-72). This module is
the engine's forward-looking extension: Structured Streaming ingest
(``readStream`` on the transcripts table/directory) and
``foreachBatch`` incremental resolution that folds each micro-batch
into a persisted cluster-state table.

Incremental model: predictions are a pure function of the mention
surface (candidate ranking + most-popular linking are context-free), so
cluster identity is keyed by prediction. The state table
``cluster_roots(prediction, cluster_id)`` pins the canonical root the
first time an entity is seen; later batches reuse it — mentions of the
same entity land in the same cluster across batches without
re-clustering history (the streaming analog of the memo-cache J12).

Label-space note: the batch engine labels clusters in PREDICTION space
(clustering.py — labels are self-stable, no state needed).
This streaming surface keeps MENTION-space labels deliberately: it
demonstrates the pinned-root state-table pattern (crash-safe swap,
recovery) that prediction-space labels cannot exercise, and consumers
get instance-level roots. The partition induced on mentions is
identical either way; only the label representative differs."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import PipelineConfig, resolve

TRANSCRIPT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of transcript turns (one parquet drop = one
    micro-batch; on a cluster this is the Iceberg/Kafka ingest edge)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


class IncrementalResolver:
    """foreachBatch handler: ``resolve()`` each micro-batch (the batch
    pipeline's stage graph and default fuzzy/mostpopular config), then
    assign stable cluster ids via the persisted root-state table."""

    def __init__(
        self,
        spark: SparkSession,
        aliases: DataFrame,
        state_dir: str,
        threshold: float = 0.7,
        top_k: int = 3,
    ):
        self.spark = spark
        self.aliases = aliases
        self.state_dir = state_dir
        self.threshold = threshold
        self.top_k = top_k
        os.makedirs(state_dir, exist_ok=True)

    def _roots_path(self) -> str:
        return os.path.join(self.state_dir, "cluster_roots")

    def _out_path(self) -> str:
        return os.path.join(self.state_dir, "clusters")

    def _load_roots(self) -> DataFrame:
        """Load the pinned-roots state. Missing path → empty state;
        a live dir missing but ``_old`` present (crash mid-swap) →
        recover from ``_old``. Any OTHER read error (genuine
        corruption) propagates loudly — silently resetting state would
        re-pin seen entities to new roots, breaking the
        stable-cluster-id-across-restarts contract."""
        path = self._roots_path()
        if not os.path.exists(path) and os.path.exists(path + "_old"):
            path = path + "_old"
        if not os.path.exists(path):
            return self.spark.createDataFrame(
                [], "prediction string, cluster_id string"
            )
        return self.spark.read.parquet(path)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        res = resolve(
            self.spark, batch_df, self.aliases,
            config=PipelineConfig(fuzzy_threshold=self.threshold, top_k=self.top_k),
        )
        try:
            self._fold(res.linked, batch_id)
        finally:
            res.unpersist()

    def _fold(self, linked: DataFrame, batch_id: int) -> None:
        """Pin roots for the batch's new entities, then append its
        mentions with their cluster ids."""
        roots = self._load_roots().withColumnRenamed("cluster_id", "known_root")
        joined = linked.join(roots, "prediction", "left").cache()

        # new entities this batch → pin their root = min mention_id seen
        new_roots = (
            joined.filter(F.col("known_root").isNull() & (F.col("prediction") != "NIL"))
            .groupBy("prediction")
            .agg(F.min("mention_id").alias("cluster_id"))
        )
        merged_roots = self._load_roots().unionByName(new_roots).dropDuplicates(
            ["prediction"]
        )
        merged_roots.write.mode("overwrite").parquet(self._roots_path() + "_next")
        # rename-aside swap (live → _old, _next → live, drop _old): a
        # crash at any point leaves either the live dir or _old intact,
        # and _load_roots recovers from _old. On a real cluster this is
        # an Iceberg snapshot commit.
        import shutil

        live, old = self._roots_path(), self._roots_path() + "_old"
        # _old is only deleted while live exists — on a recovery batch
        # (prior crash left ONLY _old), deleting it before promoting
        # _next would open a window with no durable copy at all
        if os.path.exists(live):
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(live, old)
        os.rename(live + "_next", live)
        if os.path.exists(old):
            shutil.rmtree(old)

        all_roots = self.spark.read.parquet(self._roots_path()).withColumnRenamed(
            "cluster_id", "root"
        )
        out = (
            linked.join(all_roots, "prediction", "left")
            .withColumn("cluster_id", F.coalesce("root", "mention_id"))
            .withColumn("batch_id", F.lit(batch_id))
            .select(
                "mention_id", "mention", "prediction", "cluster_id", "batch_id"
            )
        )
        out.write.mode("append").parquet(self._out_path())
        joined.unpersist()

    def start(self, stream: DataFrame, trigger_once: bool = True):
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", os.path.join(self.state_dir, "_checkpoint")
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
