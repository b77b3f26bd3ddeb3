"""The spark-submit cluster entrypoint, ``jobs.resolve_job.main()``, run
as spark-submit would run it (flags through ``sys.argv``) on the tiny
fixture: it writes clusters and lineage metrics, and a rerun on the same
``--checkpoint-dir`` resumes from the catalog instead of recomputing."""

import os
import sys

from t_res_spark.jobs import resolve_job
from t_res_spark.sources.tables import CheckpointCatalog

_STAGES = ["mentions", "surfaces", "candidates", "predictions", "linked",
           "clusters", "metrics"]


def test_resolve_job_writes_and_resumes(spark, tiny_dir, tmp_path, monkeypatch):
    written = []
    real_write = CheckpointCatalog.write

    def recording_write(self, df, name, cfg_hash):
        written.append(name)
        return real_write(self, df, name, cfg_hash)

    monkeypatch.setattr(CheckpointCatalog, "write", recording_write)

    def run(output):
        monkeypatch.setattr(sys, "argv", [
            "resolve_job.py",
            "--transcripts", os.path.join(tiny_dir, "transcripts.parquet"),
            "--aliases", os.path.join(tiny_dir, "aliases.parquet"),
            "--entities", os.path.join(tiny_dir, "entities.parquet"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--output", output,
        ])
        written.clear()
        resolve_job.main()
        clusters = spark.read.parquet(output)
        metrics = spark.read.parquet(output + "_metrics")
        return (
            sorted(map(tuple, clusters.select("mention_id", "prediction", "cluster_id").collect())),
            metrics.agg({"rows": "sum"}).first()[0],
            list(written),
        )

    rows1, metric_rows1, written1 = run(str(tmp_path / "out1"))
    assert rows1 and metric_rows1 == len(rows1)
    assert written1 == _STAGES

    rows2, metric_rows2, written2 = run(str(tmp_path / "out2"))
    assert written2 == []  # every stage read back from the catalog
    assert rows2 == rows1 and metric_rows2 == metric_rows1
