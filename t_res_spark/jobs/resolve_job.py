"""Cluster entrypoint: spark-submit --py-files t_res_spark.zip resolve_job.py

Runs the full ER pipeline over a transcripts table and writes clusters +
lineage metrics through the checkpoint catalog (Iceberg when the session
has an Iceberg catalog configured, parquet otherwise). Resumable: rerun
with the same --checkpoint-dir and completed stages are skipped
(north rule: resumable from checkpoint with per-partition lineage).

    spark-submit \
      --master yarn --deploy-mode cluster \
      --py-files t_res_spark.zip \
      t_res_spark/jobs/resolve_job.py \
      --transcripts s3://bucket/transcripts \
      --aliases s3://bucket/aliases \
      --checkpoint-dir s3://bucket/tres_ckpt \
      --output s3://bucket/clusters

Optional flags: ``--entities`` (an entity table that decorates each link
with its coordinates and class), ``--ranking-method`` (perfectmatch,
partialmatch, levenshtein, fuzzy or jarowinkler; default fuzzy),
``--salt-factor`` (hot block-key salting, default 8) and ``--overwrite``
(recompute stages already in the catalog). Linking is most-popular.

On the sandbox: tools/submit.sh packages the zip and runs local-mode.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--aliases", required=True)
    ap.add_argument("--entities", default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--ranking-method", default="fuzzy")
    ap.add_argument("--salt-factor", type=int, default=8)
    ap.add_argument("--overwrite", action="store_true")
    args = ap.parse_args()

    # spark-submit provides master/conf; builder only names the app
    spark = SparkSession.builder.appName("t_res_spark-resolve").getOrCreate()

    from t_res_spark.plans.pipeline import PipelineConfig, resolve
    from t_res_spark.sources.tables import CheckpointCatalog

    transcripts = spark.read.parquet(args.transcripts)
    aliases = spark.read.parquet(args.aliases)
    entities = spark.read.parquet(args.entities) if args.entities else None
    catalog = (
        CheckpointCatalog(spark, args.checkpoint_dir, overwrite=args.overwrite)
        if args.checkpoint_dir
        else None
    )
    cfg = PipelineConfig(ranking_method=args.ranking_method, salt_factor=args.salt_factor)
    res = resolve(spark, transcripts, aliases, entities=entities,
                  config=cfg, catalog=catalog)
    res.clusters.write.mode("overwrite").parquet(args.output)
    res.metrics.write.mode("overwrite").parquet(args.output + "_metrics")


if __name__ == "__main__":
    main()
