"""Linking parity tests — semantics of
/root/reference/tests/test_linking.py re-based onto synthetic numbers
(the reference's golden constants embed its real Wikidata counts, which
are external data; the math is asserted exactly instead)."""

import pytest

from t_res_spark.operators import linking


@pytest.fixture(scope="module")
def cands(spark):
    # candidates(mention, variation, score, qid, relv, abs_relv)
    rows = [
        ("London", "London", 1.0, "Q84", 0.875, 43000000.0),
        ("London", "London", 1.0, "Q92561", 0.125, 453000.0),
        ("Lvndon", "London", 5 / 6, "Q84", 0.875, 43000000.0),
        ("Lvndon", "London", 5 / 6, "Q92561", 0.125, 453000.0),
    ]
    return spark.createDataFrame(
        rows, "mention string, variation string, score double, qid string, relv double, abs_relv double"
    )


def test_most_popular(cands):
    """linking.py:216-264: pred = argmax abs score; final = max/total."""
    out = {r["mention"]: r for r in linking.most_popular(cands).collect()}
    assert out["London"]["prediction"] == "Q84"
    expected = 43000000.0 / (43000000.0 + 453000.0)
    assert abs(out["London"]["link_score"] - expected) < 1e-12
    assert out["Lvndon"]["prediction"] == "Q84"


def test_most_popular_empty_is_nil(spark, cands):
    mentions = spark.createDataFrame(
        [("m1", "London"), ("m2", "Nowhereville")],
        "mention_id string, mention string",
    )
    linked = linking.link_mentions(mentions, linking.most_popular(cands))
    got = {r["mention_id"]: (r["prediction"], r["link_score"]) for r in linked.collect()}
    assert got["m2"] == ("NIL", 0.0)  # linking.py:239-244
    assert got["m1"][0] == "Q84"


def test_by_distance_flip(spark, cands):
    """The place-of-publication flip of tests/test_linking.py:52-92:
    same candidates, different origin → different prediction; the
    'Venus' row (invalid coords) is never linkable."""
    entities = spark.createDataFrame(
        [
            ("Q84", 51.5, -0.12, "Q515"),     # London
            ("Q92561", 44.0, -79.46, "Q515"),  # London, Ontario
            ("Q172", 43.65, -79.38, "Q515"),   # Toronto
            ("QVENUS", 200.0, 400.0, "Q515"),  # invalid coords guard
        ],
        "qid string, lat double, lon double, wkdt_class string",
    )
    origins_near_london = spark.createDataFrame(
        [("London", "Q84"), ("Lvndon", "Q84")], "mention string, origin_qid string"
    )
    origins_toronto = spark.createDataFrame(
        [("London", "Q172"), ("Lvndon", "Q172")], "mention string, origin_qid string"
    )
    near = {r["mention"]: r["prediction"] for r in
            linking.by_distance(cands, entities, origins_near_london).collect()}
    far = {r["mention"]: r["prediction"] for r in
           linking.by_distance(cands, entities, origins_toronto).collect()}
    assert near["London"] == "Q84"
    assert far["London"] == "Q92561"  # flip, linking.py golden :74-83


def test_linking_no_forced_broadcast(spark, cands):
    """Scale guard (mirror of tests/test_ranking.py's ranking-side plan
    test): neither by_distance nor link_mentions may FORCE a broadcast
    of the entities dimension — a real gazetteer is ~10M rows with class
    strings (hundreds of MB serialized). AQE may still promote small
    sides at runtime; the plan must not pin the strategy."""
    entities = spark.createDataFrame(
        [("Q84", 51.5, -0.12, "Q515"), ("Q92561", 44.0, -79.46, "Q515")],
        "qid string, lat double, lon double, wkdt_class string",
    )
    origins = spark.createDataFrame(
        [("London", "Q84")], "mention string, origin_qid string"
    )
    mentions = spark.createDataFrame(
        [("m1", "London")], "mention_id string, mention string"
    )
    for df in (
        linking.by_distance(cands, entities, origins),
        linking.link_mentions(mentions, linking.most_popular(cands), entities),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed
        assert "UnresolvedHint" not in analyzed, analyzed


def test_rank_candidates_math(spark):
    """rel_utils.py:202-225 exact arithmetic + (score, qid)-desc order
    (rel_utils.py:227 — W3 tie-break)."""
    rows = [
        ("m", "v1", 0.5, "Q1", 0.8, 100.0),
        ("m", "v1", 0.5, "Q2", 0.4, 50.0),
        ("m", "v2", 0.0, "Q3", 0.6, 25.0),
    ]
    cands = spark.createDataFrame(
        rows, "mention string, variation string, score double, qid string, relv double, abs_relv double"
    )
    out = {(r["qid"]): r for r in linking.rank_candidates(cands).collect()}
    # Q1: qcm2w=(0.8+0.5)/2=0.65; qc=((100/100 + 0.65)/2)*0.9 = 0.7425 → 0.742 (banker's? Spark HALF_UP → 0.743)
    assert out["Q1"]["qc_score"] == pytest.approx(round(((1.0 + 0.65) / 2) * 0.9, 3))
    # Q3: score==0 → qcm2w stays relv (rel_utils.py:214-216)
    assert out["Q3"]["qc_score"] == pytest.approx(round(((0.25 + 0.6) / 2) * 0.9, 3))
    assert out["Q1"]["cand_rank"] == 1


def test_invert_alias_map(spark):
    """A1 — per-QID normalized relevance after inversion."""
    from t_res_spark.operators.linking import invert_alias_map

    aliases = spark.createDataFrame(
        [
            ("london", "Q84", 0.8, 800.0),
            ("lvndon", "Q84", 0.2, 200.0),
            ("paris", "Q90", 1.0, 50.0),
        ],
        "alias string, qid string, relv double, abs_relv double",
    )
    got = {(r["qid"], r["alias"]): r["relv_norm"] for r in invert_alias_map(aliases).collect()}
    assert got[("Q84", "london")] == 0.8
    assert got[("Q84", "lvndon")] == 0.2
    assert got[("Q90", "paris")] == 1.0
