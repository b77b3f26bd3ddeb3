"""The batch experiment driver, one-for-one (SURVEY §3.3).

The reference's `Experiment` flow
(/root/reference/experiments/experiment.py:159-507 + 607-813):
TSV of annotated articles → prepare_sents → NER + align_gold →
per-sentence candidate ranking → linking per split → gold-joined
mention table → micro P/R/F1 → CLEF-scorer TSVs, with 9 JSON
checkpoints for resumability.

Spark restatement (this module): every per-sentence Python loop is a
DataFrame stage, extraction → ranking → linking is
``plans.pipeline.resolve``, the splits are partition predicates, and
the external CLEF scorer's input contract is the ordered eval sink.
``run_experiment`` keeps no checkpoints: for a resumable run use
``jobs.resolve_job --checkpoint-dir`` (the CheckpointCatalog).

    spark-submit --py-files t_res_spark.zip \\
      t_res_spark/jobs/experiment_job.py \\
      --experiment-tsv .../linking_df_split.tsv \\
      --aliases .../aliases.parquet --output .../out
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_experiment(
    spark: SparkSession,
    rows: DataFrame,
    aliases: DataFrame,
    ranking_method: str = "fuzzy",
) -> tuple[DataFrame, DataFrame]:
    """Experiment rows (article_id, sentences, annotations) →
    (per-mention results joined with gold, metrics row).

    Stages (each the Spark analog of the reference step cited):
    1. parse stringified columns (prepare_sents, process_data.py:47-128);
    2. ``resolve()``: deterministic NER (ner_and_process :258-389),
       candidate ranking over distinct surfaces (:225-231), most-popular
       linking (linking_experiments :607-813);
    3. gold span alignment of its mentions (align_gold,
       process_data.py:130-196 / the max-overlap join of
       experiment.py:404-416), joined onto its linked mentions;
    4. micro P/R/F1 of prediction vs gold QID — one aggregation row.

    The results are written to the run's scratch dir and the mentions
    cache is released before return, so the returned frames read only
    parquet; the scratch dir is removed at interpreter exit
    (``plans.pipeline``'s ``_LIVE_SCRATCH`` backstop).
    """
    from ..operators.alignment import align_spans
    from ..plans.pipeline import PipelineConfig, resolve
    from ..sources.ingest import parse_annotations, parse_sentences
    from ..sources.tables import write_stage

    sentences = parse_sentences(rows)
    annotations = parse_annotations(rows)

    transcripts = sentences.select(
        F.col("article_id").cast("string").alias("conv_id"),
        F.col("sent_pos").cast("int").alias("turn_idx"),
        F.col("sentence_text").alias("text"),
    )
    res = resolve(
        spark, transcripts, aliases,
        config=PipelineConfig(ranking_method=ranking_method),
    )

    gold = annotations.select(
        F.col("article_id").cast("string").alias("conv_id"),
        F.col("sent_pos").cast("int").alias("turn_idx"),
        F.col("mention").alias("gold_mention"),
        F.col("mention_start").alias("gold_start"),
        F.col("mention_end").alias("gold_end"),
        F.col("qid").alias("gold_qid"),
    )
    aligned = align_spans(
        res.mentions.select(
            "conv_id", "turn_idx", "mention", "start_char", "end_char"
        ),
        gold,
    )

    results = res.linked.join(
        aligned.select("conv_id", "turn_idx", "start_char", "gold_mention", "gold_qid"),
        ["conv_id", "turn_idx", "start_char"],
        "left",
    )
    results = write_stage(results, f"{res.scratch[0]}/results")
    res.mentions.unpersist()

    # micro metrics over gold-covered mentions: NIL-vs-NIL is a true
    # negative in the reference's scorer; misses (no gold) are skipped
    scored = results.filter(F.col("gold_qid").isNotNull())
    metrics = scored.agg(
        F.count(F.lit(1)).alias("n_gold"),
        F.sum(
            ((F.col("prediction") == F.col("gold_qid"))
             & (F.col("gold_qid") != "NIL")).cast("long")
        ).alias("tp"),
        F.sum(
            ((F.col("prediction") != F.col("gold_qid"))
             & (F.col("prediction") != "NIL")).cast("long")
        ).alias("fp"),
        F.sum(
            ((F.col("prediction") != F.col("gold_qid"))
             & (F.col("gold_qid") != "NIL")).cast("long")
        ).alias("fn"),
    ).select(
        "n_gold", "tp", "fp", "fn",
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias("recall"),
        (2 * F.col("tp") / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1))).alias("f1"),
    )
    return results, metrics


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--experiment-tsv", required=True)
    ap.add_argument("--aliases", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--ranking-method", default="fuzzy")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("t_res_spark-experiment").getOrCreate()

    from ..sources.readers import read_experiment_tsv
    from ..sources.tables import write_eval_sink

    rows = read_experiment_tsv(spark, args.experiment_tsv)
    aliases = spark.read.parquet(args.aliases)
    results, metrics = run_experiment(
        spark, rows, aliases, ranking_method=args.ranking_method
    )
    results.write.mode("overwrite").parquet(args.output + "/results")
    metrics.write.mode("overwrite").parquet(args.output + "/metrics")
    write_eval_sink(results, args.output + "/clef")


if __name__ == "__main__":
    main()
