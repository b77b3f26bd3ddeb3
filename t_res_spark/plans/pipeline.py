"""The end-to-end entity-resolution plan.

Spark restatement of T-Res's ``Pipeline.run_text`` / ``Experiment`` flow
(geoparser/pipeline.py:387-490, experiments/experiment.py:159-813):

    transcripts → (extract UDF) → mentions → distinct surfaces
      → (blocking join + batched scoring) → candidates
      → (linking agg) → predictions → (decoration joins)
      → clusters via connected components → checkpoint tables

Each stage is a composable DataFrame→DataFrame function, so tests can
cut in at any seam. With a ``CheckpointCatalog`` every stage is written
as a table keyed by a deterministic config hash, and a rerun resumes
from the last completed stage (experiment.py:133-157): kill it between
stages and it picks up where it left off.

Without a catalog three stages are cut:

- ``mentions`` is persisted: the surfaces stage and the link join both
  read it, and without the cache the extraction UDF would run once per
  reader. The surfaces write is the job that fills the cache.
- ``surfaces`` is written to parquet: the candidate stage reads it three
  times (exact hits, the missed-surface anti-join, the blocked pairs),
  and without a cut each read embeds a copy of the extract subtree.
- ``predictions`` is written to parquet: a join chain's size estimate is
  the product of its inputs, so the one-row-per-surface table never
  looks small to Catalyst. Backed by files it carries real size
  statistics, and the link join broadcasts it without a hint.

Parquet rather than ``localCheckpoint``, because an RDD scan has unknown
size statistics and would demote those joins to sort-merge joins. Both
parquet cuts go through ``sources.tables.write_stage`` into one scratch
directory per run, which ``PipelineResult.unpersist()`` removes.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators import clustering, extraction, linking, ranking
from ..sources.tables import CheckpointCatalog, hadoop_fs, write_stage

# (path, remover) of every run scratch dir still on storage, removed at
# interpreter exit as a backstop for a caller that never calls
# PipelineResult.unpersist().
_LIVE_SCRATCH: list = []


def _drop_scratch(scratch: tuple | None) -> None:
    if scratch is None:
        return
    path, remover = scratch
    try:
        remover(path, ignore_errors=True)
    except Exception:
        pass
    try:
        _LIVE_SCRATCH.remove(scratch)
    except ValueError:
        pass


@atexit.register
def _cleanup_scratch_atexit() -> None:
    for scratch in list(_LIVE_SCRATCH):
        _drop_scratch(scratch)


def _hadoop_remover(spark: SparkSession):
    """Remover that goes through the Hadoop FileSystem API, so scratch
    paths on shared storage (hdfs://, s3a://, …) are deleted where they
    live — ``shutil`` only ever works for driver-local paths."""

    def remove(path: str, ignore_errors: bool = True) -> None:
        try:
            fs, hpath = hadoop_fs(spark, path)
            fs.delete(hpath, True)
        except Exception:
            if not ignore_errors:
                raise

    return remove


def _scratch_dir(spark: SparkSession):
    """(path, remover) for one run's scratch dir.

    Executors perform parquet writes, so on any multi-node deployment
    the scratch path must be on storage every executor and the driver
    share; a driver-local tempdir silently breaks off local mode.
    Resolution order:

    1. ``spark.tres.scratchDir`` — explicit spark-visible scratch root
       (any Hadoop-FS scheme);
    2. the session's checkpoint dir, if one is set (already required to
       be shared storage by Spark's own checkpoint contract);
    3. a driver-local tempdir — **only** under a ``local[*]`` master,
       where driver and executors share a filesystem by construction;
       its remover is ``shutil``, which still works after the JVM is
       gone (the atexit backstop);
    otherwise raise with instructions rather than corrupt silently.
    """
    root = spark.conf.get("spark.tres.scratchDir", None)
    if not root:
        try:  # Option[String] → None when unset
            root = spark.sparkContext._jsc.sc().getCheckpointDir().orNull()
        except Exception:
            root = None
    if root:
        path = f"{str(root).rstrip('/')}/tres_run_{uuid.uuid4().hex[:12]}"
        return path, _hadoop_remover(spark)
    if spark.sparkContext.master.startswith("local"):
        def _rm(path: str, ignore_errors: bool = True) -> None:
            shutil.rmtree(path, ignore_errors=ignore_errors)

        return tempfile.mkdtemp(prefix="tres_run_"), _rm
    raise RuntimeError(
        "resolve() needs a spark-visible scratch dir for stage tables on "
        "a non-local master: set spark.tres.scratchDir (shared storage) "
        "or pass a CheckpointCatalog"
    )


@dataclass
class PipelineConfig:
    """Analog of the reference's Ranker/Linker method config
    (pipeline.py:95-106 defaults: perfectmatch + mostpopular; our
    default ranker is the fuzzy DeezyMatch analog, and linking is always
    most-popular). Every field goes into the stage-table config hash.

    ``ranking_method`` is one of perfectmatch, partialmatch, levenshtein,
    fuzzy and jarowinkler. ``uncased_gazetteer`` adds the
    gazetteer-anchored uncased tagger to extraction (see ``_extract``):
    ``run_text`` sets it, batch runs leave it off."""

    ranking_method: str = "fuzzy"
    fuzzy_threshold: float = 0.7
    top_k: int = 3
    salt_factor: int = 8
    uncased_gazetteer: bool = False


@dataclass
class PipelineResult:
    mentions: DataFrame
    candidates: DataFrame
    predictions: DataFrame
    linked: DataFrame
    clusters: DataFrame
    metrics: DataFrame
    # (path, remover) of the run's scratch dir; None under a catalog
    scratch: tuple | None = None

    def unpersist(self) -> None:
        """Release the mentions cache (the one persisted stage) and
        delete the run's scratch dir — call when done with the result in
        a long-lived session. (The atexit backstop removes anything still
        outstanding, and resolve() itself cleans up when a stage
        raises.)"""
        try:
            self.mentions.unpersist()
        except Exception:
            pass
        _drop_scratch(self.scratch)
        self.scratch = None


def blocking_metrics(surfaces: DataFrame) -> DataFrame:
    """Skew evidence for the lineage table (SURVEY §7.3 #4 — 'must be
    measured, not assumed'): per-block-key candidate counts with the
    overall p50/p99/max, so a hot key ('London' problem) shows up as a
    number, not an OOM. One map-side-combinable agg over the surface
    table keyed as ranking's join keys it."""
    from ..operators.blocking import with_block_key

    sizes = (
        with_block_key(surfaces.select("mention"), "mention")
        .groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.expr("percentile_approx(n, 0.5)").alias("p50"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
        F.max("n").alias("max_block"),
        F.sum("n").alias("total_keys"),
    )


def stage_metrics(clusters: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics table (north rule): row counts and
    cluster stats per shuffle partition, computed with
    spark_partition_id — an auditable record that skew mitigation
    actually worked (SURVEY §7.3 #4: measured, not assumed)."""
    return (
        clusters.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("cluster_id").alias("clusters"),
            F.max(F.length("mention")).alias("max_mention_len"),
        )
    )


def resolve(
    spark: SparkSession,
    transcripts: DataFrame,
    aliases: DataFrame,
    entities: DataFrame | None = None,
    config: PipelineConfig | None = None,
    catalog: CheckpointCatalog | None = None,
) -> PipelineResult:
    """Run the full ER pipeline; every stage checkpointable/resumable."""
    cfg = config or PipelineConfig()
    cfg_d = asdict(cfg)
    scratch = None
    if catalog is None:
        scratch = _scratch_dir(spark)
        _LIVE_SCRATCH.append(scratch)

    def _stage(name: str, thunk, cut: str | None = None) -> DataFrame:
        """Resume-or-compute under a catalog; without one, apply the
        stage's cut ('persist' or 'parquet', see the module docstring)."""
        if catalog is not None:
            return catalog.materialize(thunk, name, cfg_d)
        df = thunk()
        if cut == "persist":
            return df.persist(StorageLevel.MEMORY_AND_DISK)
        if cut == "parquet":
            return write_stage(df, f"{scratch[0]}/{name}")
        return df

    def _extract():
        # opt-in script-agnostic extraction: union the cased rule
        # tagger with the gazetteer-anchored uncased tagger, the alias
        # KB serving as the gazetteer. Flag-gated (not default) for
        # batch cost discipline: the uncased branch adds a second
        # corpus pass whose scan prefilter (\p{Lo}) prunes it to
        # nothing on latin corpora, but a 10^12-turn run should not
        # pay even the scan unless the corpus warrants it.
        if cfg.uncased_gazetteer:
            from ..operators.gazetteer import extract_mentions_full

            return extract_mentions_full(transcripts, aliases)
        return extraction.extract_mentions(transcripts)

    mentions = None
    try:
        mentions = _stage("mentions", _extract, cut="persist")
        surfaces = _stage(
            "surfaces", lambda: extraction.distinct_mentions(mentions), cut="parquet"
        )
        candidates = _stage(
            "candidates",
            lambda: ranking.find_candidates(
                surfaces,
                aliases,
                method=cfg.ranking_method,
                threshold=cfg.fuzzy_threshold,
                top_k=cfg.top_k,
                salt_factor=cfg.salt_factor,
            ),
        )
        predictions = _stage(
            "predictions", lambda: linking.most_popular(candidates), cut="parquet"
        )
        # linked is not persisted: it re-derives from the cached mentions
        # with one cheap broadcast join per consuming branch, while
        # caching it would double the memory footprint of the widest
        # table.
        linked = _stage(
            "linked", lambda: linking.link_mentions(mentions, predictions, entities)
        )
        clusters = _stage("clusters", lambda: clustering.cluster_mentions(linked))
        metrics = _stage("metrics", lambda: stage_metrics(clusters))
    except BaseException:
        # a stage raised: release the mentions cache and remove the
        # run's scratch now, not at exit
        if mentions is not None:
            mentions.unpersist()
        _drop_scratch(scratch)
        raise

    return PipelineResult(
        mentions=mentions,
        candidates=candidates,
        predictions=predictions,
        linked=linked,
        clusters=clusters,
        metrics=metrics,
        scratch=scratch,
    )
