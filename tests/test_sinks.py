"""Ordered eval sink (S14), checkpoint catalog mechanics, and the F7/F8
scalar helpers."""

import os

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
