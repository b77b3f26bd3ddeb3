"""Ordered eval sink (S14), checkpoint catalog mechanics, the F7/F8
scalar helpers, and the one-write-path guard."""

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from t_res_spark.functions.similarity import log_prior, pem_clamp
from t_res_spark.sources.tables import CheckpointCatalog, config_hash, write_eval_sink


def test_eval_sink_ordered(spark, tmp_path):
    linked = spark.createDataFrame(
        [("c2", 0, 5, "B", "Q2"), ("c1", 1, 0, "A", "Q1"), ("c1", 0, 3, "C", "Q3")],
        "conv_id string, turn_idx int, start_char int, mention string, prediction string",
    )
    out = str(tmp_path / "eval")
    write_eval_sink(linked, out)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(files) == 1  # single ordered partition (scorer format)
    lines = open(os.path.join(out, files[0])).read().splitlines()
    assert lines == [
        "c1\t0\t3\tC\tQ3",
        "c1\t1\t0\tA\tQ1",
        "c2\t0\t5\tB\tQ2",
    ]


def test_pem_clamp_and_log(spark):
    df = spark.createDataFrame([(0.0,), (0.5,), (2.0,)], "p double")
    rows = df.select(
        pem_clamp(F.col("p")).alias("c"), log_prior(F.col("p")).alias("l")
    ).collect()
    assert [r["c"] for r in rows] == [1e-3, 0.5, 1.0]
    import math

    assert rows[0]["l"] == pytest.approx(math.log(1e-20))
    assert rows[1]["l"] == pytest.approx(math.log(0.5 + 1e-20))


def test_config_hash_stability():
    a = config_hash({"x": 1, "y": "z"})
    b = config_hash({"y": "z", "x": 1})
    assert a == b and len(a) == 12
    assert config_hash({"x": 2, "y": "z"}) != a


def test_checkpoint_overwrite_flag(spark, tmp_path):
    cat = CheckpointCatalog(spark, str(tmp_path), overwrite=False)
    df1 = spark.createDataFrame([(1,)], "v int")
    df2 = spark.createDataFrame([(2,)], "v int")
    cfg = {"stage": "s"}
    out1 = cat.materialize(lambda: df1, "t", cfg)
    assert [r["v"] for r in out1.collect()] == [1]
    # same config hash → resume, thunk not recomputed
    out2 = cat.materialize(lambda: df2, "t", cfg)
    assert [r["v"] for r in out2.collect()] == [1]
    # overwrite → recompute
    cat_ow = CheckpointCatalog(spark, str(tmp_path), overwrite=True)
    out3 = cat_ow.materialize(lambda: df2, "t", cfg)
    assert [r["v"] for r in out3.collect()] == [2]


def test_tables_reach_storage_only_through_spark():
    """Spark-free guard: a table reaches storage through a Spark write
    (``write_stage`` / ``CheckpointCatalog``), which works on any
    Hadoop-FS path or URI and overwrites whole tables or partitions.
    So nothing under ``t_res_spark/`` renames or removes files with
    ``os``/``shutil`` (driver-local only) or writes with
    ``mode("append")`` (a replayed write duplicates rows). The one
    exception is ``plans/pipeline.py``'s remover for a local-master
    tempdir scratch, which must still work after the JVM is gone."""
    pkg = Path(__file__).resolve().parent.parent / "t_res_spark"
    hits = []

    def visit(node, rel, owners):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owners = owners + (node.name,)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            fn, base = node.func, node.func.value
            name = base.id if isinstance(base, ast.Name) else None
            bad = (
                (name == "os" and fn.attr in ("rename", "replace"))
                or name == "shutil"
                or (
                    fn.attr == "mode"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == "append"
                )
            )
            allowed = rel == "plans/pipeline.py" and "_scratch_dir" in owners
            if bad and not allowed:
                hits.append(f"{rel}:{node.lineno} {ast.unparse(fn)}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, owners)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        visit(ast.parse(path.read_text(encoding="utf-8")), rel, ())
    assert not hits, "storage writes outside write_stage: " + ", ".join(hits)
