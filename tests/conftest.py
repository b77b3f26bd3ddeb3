import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from t_res_spark import datagen  # noqa: E402
from t_res_spark.session import get_spark  # noqa: E402

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_ROOT = os.path.join(REPO_ROOT, "data")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="t_res_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture()
def scratch_root(spark, tmp_path):
    """Point resolve()'s scratch root (``spark.tres.scratchDir``) at an
    empty per-test dir; the previous setting is restored afterwards."""
    root = tmp_path / "scratch"
    root.mkdir()
    prev = spark.conf.get("spark.tres.scratchDir", None)
    spark.conf.set("spark.tres.scratchDir", str(root))
    yield root
    if prev is None:
        spark.conf.unset("spark.tres.scratchDir")
    else:
        spark.conf.set("spark.tres.scratchDir", prev)


@pytest.fixture()
def persisted_rdds(spark):
    """Callable → ids of the RDDs persisted right now. Compare id sets,
    not counts: Spark's ContextCleaner drops earlier tests'
    garbage-collected RDDs at any moment, so a count can fall mid-test."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture(scope="session")
def tiny_fx():
    return datagen.generate(seed=42, **datagen.SCALES["tiny"])


@pytest.fixture(scope="session")
def tiny_dir(tiny_fx):
    return datagen.ensure_fixture("tiny", root=DATA_ROOT)


@pytest.fixture(scope="session")
def small_dir():
    return datagen.ensure_fixture("small", root=DATA_ROOT)
