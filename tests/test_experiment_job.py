"""SURVEY §3.3 — the batch experiment driver analog end-to-end:
TSV-shaped rows -> parse -> NER -> gold alignment -> ranking ->
linking -> micro metrics."""

import json


def _mk_rows(spark):
    def sent(pos, text):
        return {"sentence_pos": pos, "sentence_text": text}

    def ann(pos, mention, start, end, qid):
        return {
            "sent_pos": pos, "mention": mention, "entity_type": "LOC",
            "wkdt_qid": qid, "mention_start": start, "mention_end": end,
        }

    rows = [
        (
            "a1",
            json.dumps([sent(1, "We sailed to London today"),
                        sent(2, "then on to Sheffield")]),
            json.dumps([ann(1, "London", 13, 19, "Q84"),
                        ann(2, "Sheffield", 11, 20, "Q42448")]),
        ),
        (
            "a2",
            json.dumps([sent(1, "no mentions here at all")]),
            json.dumps([]),
        ),
    ]
    return spark.createDataFrame(
        rows, "article_id string, sentences string, annotations string"
    )


def test_run_experiment_end_to_end(spark, persisted_rdds):
    from t_res_spark.jobs.experiment_job import run_experiment

    aliases = spark.createDataFrame(
        [
            ("London", "Q84", 0.9, 900.0),
            ("Sheffield", "Q42448", 0.9, 400.0),
            ("London", "Q2477346", 0.1, 100.0),
        ],
        "alias string, qid string, relv double, abs_relv double",
    )
    before = persisted_rdds()
    results, metrics = run_experiment(spark, _mk_rows(spark), aliases)
    # the run releases its mentions cache; the frames read parquet
    assert persisted_rdds() <= before
    got = {r["mention"]: r for r in results.collect()}
    assert got["London"]["prediction"] == "Q84"
    assert got["London"]["gold_qid"] == "Q84"
    assert got["Sheffield"]["prediction"] == "Q42448"
    m = metrics.collect()[0]
    assert m["n_gold"] == 2 and m["tp"] == 2 and m["fp"] == 0
    assert m["f1"] == 1.0


def test_experiment_clef_sink(spark, tmp_path):
    from t_res_spark.jobs.experiment_job import run_experiment
    from t_res_spark.sources.tables import write_eval_sink

    aliases = spark.createDataFrame(
        [("London", "Q84", 0.9, 900.0), ("Sheffield", "Q42448", 0.9, 400.0)],
        "alias string, qid string, relv double, abs_relv double",
    )
    results, _ = run_experiment(spark, _mk_rows(spark), aliases)
    out = str(tmp_path / "clef")
    write_eval_sink(results, out)
    lines = spark.read.text(out).collect()
    assert len(lines) == 2
    assert lines[0]["value"].split("\t")[3] == "London"  # global order
