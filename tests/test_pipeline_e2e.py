"""End-to-end golden-cluster tests: the distributed pipeline must match
the single-process oracle exactly, and hit pairwise F1 >= 0.99 on the
generator's planted ground truth (BASELINE.json metric)."""

import os

import pandas as pd
import pytest

from t_res_spark import datagen, oracle
from t_res_spark.plans.pipeline import PipelineConfig, resolve
from t_res_spark.sources.tables import CheckpointCatalog, read_fixture


def _spark_clusters(spark, fixture_dir, catalog=None):
    transcripts = read_fixture(spark, fixture_dir, "transcripts")
    aliases = read_fixture(spark, fixture_dir, "aliases")
    res = resolve(spark, transcripts, aliases, config=PipelineConfig(), catalog=catalog)
    return res


def test_e2e_matches_oracle_tiny(spark, tiny_fx, tiny_dir):
    res = _spark_clusters(spark, tiny_dir)
    got = {
        r["mention_id"]: (r["prediction"], r["cluster_id"])
        for r in res.clusters.select("mention_id", "prediction", "cluster_id").collect()
    }
    orc = oracle.resolve_oracle(tiny_fx)
    want = {
        r.mention_id: (r.prediction, r.cluster_id) for r in orc.itertuples()
    }
    assert got == want


def test_pairwise_f1_against_planted_truth(spark, tiny_fx, tiny_dir):
    res = _spark_clusters(spark, tiny_dir)
    clusters = res.clusters.select("mention_id", "cluster_id").toPandas()
    stats = oracle.pairwise_f1(clusters, tiny_fx.labeled_pairs)
    assert stats["f1"] >= 0.99, stats


@pytest.mark.parametrize("root_kind", ["path", "uri"])
def test_resume_from_checkpoint(spark, tiny_dir, tmp_path, root_kind):
    """Kill-between-stages resumability (experiment.py:133-157 analog):
    a catalog-backed run persists stage tables; a second run must reuse
    them (same config hash) and produce identical clusters. The catalog
    root may be a plain path or a URI (file://, hdfs://, s3a://, …)."""
    ckpt = tmp_path / "ckpt"
    root = str(ckpt) if root_kind == "path" else ckpt.as_uri()
    cat = CheckpointCatalog(spark, root)
    r1 = _spark_clusters(spark, tiny_dir, catalog=cat)
    c1 = sorted(map(tuple, r1.clusters.select("mention_id", "cluster_id").collect()))
    assert cat.exists("mentions", _cfg_hash()) and cat.exists("clusters", _cfg_hash())
    assert os.path.exists(ckpt / f"clusters_{_cfg_hash()}" / "_TRES_COMMIT")
    # resume: stage tables exist → read, not recompute
    cat2 = CheckpointCatalog(spark, root)
    r2 = _spark_clusters(spark, tiny_dir, catalog=cat2)
    c2 = sorted(map(tuple, r2.clusters.select("mention_id", "cluster_id").collect()))
    assert c1 == c2


def test_scratch_dir_lifecycle(spark, tiny_dir, scratch_root, persisted_rdds):
    """Without a catalog a run writes its parquet stages under ONE
    scratch dir on the configured scratch root; unpersist() deletes it,
    and a stage that raises deletes it and releases the mentions cache
    before the error propagates."""
    transcripts = read_fixture(spark, tiny_dir, "transcripts")
    aliases = read_fixture(spark, tiny_dir, "aliases")
    res = resolve(spark, transcripts, aliases)
    runs = os.listdir(scratch_root)
    assert len(runs) == 1 and runs[0].startswith("tres_run_"), runs
    assert sorted(os.listdir(scratch_root / runs[0])) == ["predictions", "surfaces"]
    assert res.clusters.count() > 0
    res.unpersist()
    assert os.listdir(scratch_root) == []

    before = persisted_rdds()
    with pytest.raises(ValueError, match="unknown ranking method"):
        resolve(
            spark, transcripts, aliases,
            config=PipelineConfig(ranking_method="bogus"),
        )
    assert os.listdir(scratch_root) == []
    assert persisted_rdds() <= before


def _cfg_hash():
    from dataclasses import asdict

    from t_res_spark.sources.tables import config_hash

    return config_hash(asdict(PipelineConfig()))


def test_metrics_table(spark, tiny_dir):
    res = _spark_clusters(spark, tiny_dir)
    m = res.metrics.toPandas()
    assert m["rows"].sum() > 0
    assert (m["clusters"] > 0).any()


@pytest.mark.slow
def test_e2e_matches_oracle_small(spark, small_dir):
    fx = datagen.generate(seed=42, **datagen.SCALES["small"])
    res = _spark_clusters(spark, small_dir)
    clusters = res.clusters.select("mention_id", "cluster_id").toPandas()
    stats = oracle.pairwise_f1(clusters, fx.labeled_pairs)
    assert stats["f1"] >= 0.99, stats


def test_config_dispatch_all_ranking_methods(spark, tiny_dir):
    """Every PipelineConfig.ranking_method is runnable end-to-end and
    resolves the exact surfaces identically (fuzzy variants differ only
    on non-exact surfaces)."""
    transcripts = read_fixture(spark, tiny_dir, "transcripts")
    aliases = read_fixture(spark, tiny_dir, "aliases")
    base = None
    for method in ("perfectmatch", "fuzzy", "jarowinkler", "levenshtein"):
        cfg = PipelineConfig(
            ranking_method=method,
            fuzzy_threshold=0.85 if method == "jarowinkler" else 0.7,
        )
        res = resolve(spark, transcripts, aliases, config=cfg)
        got = {
            r["mention_id"]: r["prediction"]
            for r in res.clusters.select("mention_id", "prediction").collect()
        }
        assert got, method
        exact_hits = {
            k: v for k, v in got.items() if v != "NIL"
        }
        if base is None:
            base = exact_hits
        else:
            # perfectmatch's resolutions are a subset every fuzzy method
            # must agree on (exact match short-circuits identically)
            for k, v in base.items():
                assert got.get(k) == v, (method, k, v, got.get(k))


# Stage functions and the modules allowed to call them: the defining
# module, resolve() itself, the gazetteer extractor (which wraps the
# cased one) and the serving endpoints that expose a single stage
# (``_candidates`` is the shared body of the two ranking endpoints).
_STAGE_DEFS = {
    "find_candidates": "operators/ranking.py",
    "extract_mentions": "operators/extraction.py",
    "extract_mentions_full": "operators/gazetteer.py",
    "most_popular": "operators/linking.py",
    "link_mentions": "operators/linking.py",
}
_STAGE_WIRING = {"plans/pipeline.py", "operators/gazetteer.py"}
_STAGE_ENDPOINTS = {
    "run_ner", "run_candidate_selection", "run_disambiguation", "_candidates",
}


def test_resolve_is_the_only_stage_wiring():
    """No caller re-wires extract → rank → link: outside the allowed
    places every caller goes through ``plans.pipeline.resolve``."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "t_res_spark"
    offenders = []

    def visit(node, rel, funcs):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            funcs = funcs + (node.name,)
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            allowed = (
                rel == _STAGE_DEFS.get(name)
                or rel in _STAGE_WIRING
                or (rel == "serving.py" and _STAGE_ENDPOINTS & set(funcs))
            )
            if name in _STAGE_DEFS and not allowed:
                offenders.append(f"{rel}:{node.lineno} {name}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, funcs)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        visit(ast.parse(path.read_text(encoding="utf-8")), rel, ())
    assert not offenders, offenders
