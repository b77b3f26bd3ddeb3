"""Checkpointed stage tables — the resumability layer.

The reference checkpoints nine intermediate dicts to JSON files and
resumes by reading them back if present
(/root/reference/experiments/experiment.py:133-157,309-343, gated by an
``overwrite_processing`` flag :188-190). The distributed analog here:
every pipeline stage can persist its output table keyed by a
**deterministic stage-config hash** (the analog of the reference's
``cand_approach``-suffixed JSON names, experiment.py:127-131); resume =
read-if-exists unless ``overwrite`` is set.

Format: Iceberg when an Iceberg catalog is configured on the session
(``spark.sql.catalog.<name>`` — the production path: atomic snapshot
commits, time travel for lineage); otherwise plain parquet directories
written by ``write_stage``, which drops a ``_TRES_COMMIT`` marker after
the data. Both paths expose the same read/write API so the pipeline code
is identical.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession


def config_hash(config: dict) -> str:
    """Deterministic 12-hex hash of a stage config (sorted-key JSON)."""
    blob = json.dumps(config, sort_keys=True, default=str).encode("utf-8")
    return hashlib.sha256(blob).hexdigest()[:12]


def _iceberg_catalog(spark: SparkSession) -> str | None:
    for k in spark.sparkContext.getConf().getAll():
        if k[0].startswith("spark.sql.catalog.") and k[0].count(".") == 3:
            return k[0].rsplit(".", 1)[1]
    return None


_COMMIT_MARKER = "_TRES_COMMIT"


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem API,
    so plain paths and URIs (file://, hdfs://, s3a://, …) all resolve to
    the storage they name."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_stage(df: DataFrame, path: str) -> DataFrame:
    """Write one stage table to parquet at ``path``, mark it committed,
    and return the parquet-backed read.

    The ``_TRES_COMMIT`` marker goes down only after the data write
    succeeded, so a run killed mid-write never looks resumable. The
    read-back passes ``df.schema`` explicitly, which skips the footer
    schema-inference job. A parquet-backed table also carries real file
    size statistics, which is what lets Catalyst broadcast a small
    stage on the far side of a join."""
    df.write.mode("overwrite").parquet(path)
    fs, marker = hadoop_fs(df.sparkSession, f"{path}/{_COMMIT_MARKER}")
    fs.create(marker, True).close()
    return df.sparkSession.read.schema(df.schema).parquet(path)


class CheckpointCatalog:
    """Stage-table catalog rooted at a directory or URI (parquet mode) or
    an Iceberg namespace (cluster mode)."""

    def __init__(self, spark: SparkSession, root: str, overwrite: bool = False):
        self.spark = spark
        self.root = root
        self.overwrite = overwrite
        self.iceberg = _iceberg_catalog(spark)

    def _path(self, name: str, cfg_hash: str) -> str:
        return f"{self.root.rstrip('/')}/{name}_{cfg_hash}"

    def _table(self, name: str, cfg_hash: str) -> str:
        return f"{self.iceberg}.tres.{name}_{cfg_hash}"

    def exists(self, name: str, cfg_hash: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(self._table(name, cfg_hash))
        fs, marker = hadoop_fs(
            self.spark, f"{self._path(name, cfg_hash)}/{_COMMIT_MARKER}"
        )
        return fs.exists(marker)

    def write(self, df: DataFrame, name: str, cfg_hash: str) -> DataFrame:
        """Persist ``df`` as the stage table and return its read."""
        if self.iceberg:
            df.writeTo(self._table(name, cfg_hash)).createOrReplace()
            return self.read(name, cfg_hash)
        return write_stage(df, self._path(name, cfg_hash))

    def read(self, name: str, cfg_hash: str) -> DataFrame:
        if self.iceberg:
            return self.spark.table(self._table(name, cfg_hash))
        return self.spark.read.parquet(self._path(name, cfg_hash))

    def materialize(
        self, df_thunk, name: str, config: dict
    ) -> DataFrame:
        """Resume-or-compute: return the stage table, computing and
        persisting it only when absent (or ``overwrite``)."""
        h = config_hash(config)
        if not self.overwrite and self.exists(name, h):
            return self.read(name, h)
        return self.write(df_thunk(), name, h)


def read_fixture(spark: SparkSession, fixture_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))


def write_eval_sink(linked: DataFrame, path: str) -> None:
    """S14 — the CLEF-HIPE-scorer-style ordered text sink
    (/root/reference/utils/process_data.py:523-581): one line per
    mention, tab-separated, globally ordered by (conv_id, turn_idx,
    start_char), single partition. Eval-output only — never a
    data-path sink (a global sort to one partition is the exact
    anti-pattern everywhere else)."""
    (
        linked.orderBy("conv_id", "turn_idx", "start_char")
        .selectExpr(
            "concat_ws('\t', conv_id, cast(turn_idx as string), "
            "cast(start_char as string), mention, prediction) AS value"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
