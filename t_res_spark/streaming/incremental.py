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

State layout: both tables under ``state_dir`` are partitioned by batch
id, ``cluster_roots/batch_id=<k>`` and ``clusters/batch_id=<k>``, and
every partition is written by ``sources.tables.write_stage``, so a state
dir may be any Hadoop-FS path or URI. Batch ``k`` reads only the roots
of batches ``< k`` and overwrites only its own two partitions, so a
replayed batch id (``foreachBatch`` is at-least-once) rewrites the same
rows: output is exactly-once with no rename, recovery or append step.

Label-space note: the batch engine labels clusters in PREDICTION space
(clustering.py — labels are self-stable, no state needed).
This streaming surface keeps MENTION-space labels deliberately: it
demonstrates the pinned-root state-table pattern that prediction-space
labels cannot exercise, and consumers get instance-level roots. The
partition induced on mentions is identical either way; only the label
representative differs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import resolve
from ..sources.tables import hadoop_fs, write_stage

TRANSCRIPT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
_ROOTS_DDL = "prediction string, cluster_id string"


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of transcript turns (one parquet drop = one
    micro-batch; on a cluster this is the Iceberg/Kafka ingest edge)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


class IncrementalResolver:
    """foreachBatch handler: ``resolve()`` each micro-batch with the
    batch pipeline's stage graph and default ``PipelineConfig()``
    (fuzzy ranking, threshold 0.7, top 3, most-popular linking), then
    assign stable cluster ids via the persisted root-state table."""

    def __init__(self, spark: SparkSession, aliases: DataFrame, state_dir: str):
        self.spark = spark
        self.aliases = aliases
        self.state_dir = state_dir.rstrip("/")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        res = resolve(self.spark, batch_df, self.aliases)
        try:
            self._fold(res.linked, batch_id)
        finally:
            res.unpersist()

    def _fold(self, linked: DataFrame, batch_id: int) -> None:
        """Pin roots for the batch's new entities, then write its
        mentions with their cluster ids, each into this batch's own
        partition."""
        roots_dir = f"{self.state_dir}/cluster_roots"
        fs, hpath = hadoop_fs(self.spark, roots_dir)
        if fs.exists(hpath):
            # earlier batches only: a replay must not see its own pins
            known = (
                self.spark.read.schema(f"{_ROOTS_DDL}, batch_id int")
                .parquet(roots_dir)
                .filter(F.col("batch_id") < batch_id)
                .drop("batch_id")
            )
        else:
            known = self.spark.createDataFrame([], _ROOTS_DDL)

        # new entities this batch → pin their root = min mention_id seen
        pinned = write_stage(
            linked.filter(F.col("prediction") != "NIL")
            .join(known, "prediction", "left_anti")
            .groupBy("prediction")
            .agg(F.min("mention_id").alias("cluster_id")),
            f"{roots_dir}/batch_id={batch_id}",
        )
        roots = known.unionByName(pinned).withColumnRenamed("cluster_id", "root")
        write_stage(
            linked.join(roots, "prediction", "left").select(
                "mention_id",
                "mention",
                "prediction",
                F.coalesce("root", "mention_id").alias("cluster_id"),
            ),
            f"{self.state_dir}/clusters/batch_id={batch_id}",
        )

    def start(self, stream: DataFrame):
        """Drain what ``stream`` has now (``availableNow``) through
        ``process_batch``; the query stops once it has caught up."""
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", f"{self.state_dir}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
