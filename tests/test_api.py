"""§3.1 — run_text interactive API parity (README.md:75-105 shape)."""


def test_split_sentences_preserves_text():
    from t_res_spark.plans.api import split_sentences

    text = "She was on a visit at Chippenham. Then to Bath! And back?"
    parts = split_sentences(text)
    assert "".join(s for _, s, _ in parts) == text
    for i, s, off in parts:
        assert text[off : off + len(s)] == s
    # leading punctuation runs must not be dropped: concatenation
    # restores the text
    for tricky in ("...Ellipsis first. Then London.", "?! What. ", "..."):
        parts = split_sentences(tricky)
        assert "".join(s for _, s, _ in parts) == tricky
        for i, s, off in parts:
            assert tricky[off : off + len(s)] == s
    # mid-text ellipses merge into the PRECEDING sentence — no
    # standalone punctuation turns shifting sent_idx
    mid = "Hi. ...and then Paris?"
    parts = split_sentences(mid)
    assert [s for _, s, _ in parts] == ["Hi. ...", "and then Paris?"]
    assert "".join(s for _, s, _ in parts) == mid


def test_run_text_reference_shape(spark, scratch_root, persisted_rdds):
    from t_res_spark.plans.api import run_text

    aliases = spark.createDataFrame(
        [
            ("Chippenham", "Q775299", 0.875, 7000.0),
            ("Chippenham", "Q3138621", 0.125, 1000.0),
            ("Bath", "Q22889", 1.0, 9000.0),
        ],
        "alias string, qid string, relv double, abs_relv double",
    )
    entities = spark.createDataFrame(
        [
            ("Q775299", 51.4585, -2.1158, "Q3957"),
            ("Q3138621", 40.0, -75.0, "Q3957"),
            ("Q22889", 51.38, -2.36, "Q515"),
        ],
        "qid string, lat double, lon double, wkdt_class string",
    )
    cached = persisted_rdds()
    out = run_text(
        spark,
        "She was on a visit at Chippenham. Then to Bath today.",
        aliases,
        entities=entities,
    )
    # run_text releases its resolve() run: no scratch dir, no cache left
    assert not list(scratch_root.glob("tres_run_*"))
    assert persisted_rdds() <= cached
    assert [d["mention"] for d in out] == ["Chippenham", "Bath"]
    chip = out[0]
    assert chip["pos"] == 22 and chip["sent_idx"] == 0
    assert chip["end_pos"] == 32
    assert chip["sentence"] == "She was on a visit at Chippenham. "
    assert chip["prediction"] == "Q775299"
    assert 0 < chip["ed_score"] <= 1.0
    score, qids = chip["string_match_score"]["Chippenham"]
    assert score == 1.0 and set(qids) == {"Q775299", "Q3138621"}
    assert chip["cross_cand_score"]["Q775299"] == 0.875
    assert chip["latlon"] == [51.4585, -2.1158]
    assert chip["wkdt_class"] == "Q3957"
    # prior_cand_score: non-empty normalized p_e_m prior map per
    # mention, sorted score-desc, summing to 1 (the reference's
    # REL-path contract, pipeline.py:288-324)
    pri = chip["prior_cand_score"]
    assert set(pri) == {"Q775299", "Q3138621"}
    assert pri["Q775299"] == 0.875 and pri["Q3138621"] == 0.125
    assert abs(sum(pri.values()) - 1.0) < 1e-9
    assert list(pri) == ["Q775299", "Q3138621"]  # score-desc order
    bath = out[1]
    assert bath["sent_idx"] == 1 and bath["prediction"] == "Q22889"
    assert bath["prior_cand_score"] == {"Q22889": 1.0}


def test_run_text_uncased_script(spark):
    """run_text is script-agnostic: a CJK toponym in the alias KB
    is tagged (gazetteer-anchored) and linked like a cased one, in the
    same reference dict shape; the cased path is untouched."""
    from t_res_spark.plans.api import run_text

    aliases = spark.createDataFrame(
        [
            ("Bath", "Q22889", 1.0, 9000.0),
            ("東京", "Q1490", 1.0, 9500.0),
        ],
        "alias string, qid string, relv double, abs_relv double",
    )
    text = "Then to Bath today. 昨日は東京に行きました。"
    out = run_text(spark, text, aliases)
    by_mention = {d["mention"]: d for d in out}
    assert set(by_mention) == {"Bath", "東京"}
    tokyo = by_mention["東京"]
    assert tokyo["prediction"] == "Q1490"
    # offsets are sentence-relative (pos within its sentence)
    sent = tokyo["sentence"]
    assert sent[tokyo["pos"] : tokyo["end_pos"]] == "東京"
    assert tokyo["tag"] == "LOC" and 0.9 <= tokyo["ner_score"] <= 0.99


def test_resolve_uncased_gazetteer_flag(spark):
    """The batch pipeline resolves uncased-script mentions when
    the uncased_gazetteer flag is set; off by default."""
    from t_res_spark.plans.pipeline import PipelineConfig, resolve

    transcripts = spark.createDataFrame(
        [
            ("c1", 0, "user", "we saw Tarvik today", None, None),
            ("c1", 1, "user", "昨日は東京に行きました", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    aliases = spark.createDataFrame(
        [("Tarvik", "E1", 0.875, 1000.0), ("東京", "E9", 1.0, 9500.0)],
        "alias string, qid string, relv double, abs_relv double",
    )
    off = resolve(spark, transcripts, aliases, config=PipelineConfig())
    assert {r["prediction"] for r in off.clusters.collect()} == {"E1"}
    on = resolve(
        spark, transcripts, aliases,
        config=PipelineConfig(uncased_gazetteer=True),
    )
    got = {r["mention"]: r["prediction"] for r in on.clusters.collect()}
    assert got == {"Tarvik": "E1", "東京": "E9"}
    off.unpersist()
    on.unpersist()
