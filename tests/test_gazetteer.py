"""Gazetteer-anchored uncased-script tagging — the
capability the reference's model NER has
(/root/reference/geoparser/recogniser.py:331) that a case-signal
tagger lacks. Same output contract and text-equality invariant as
tests/test_extraction.py."""

from t_res_spark.operators.gazetteer import (
    extract_mentions_full,
    gazetteer_tag_uncased,
    uncased_gazetteer,
)

GAZ = [
    ("東京",),          # Tokyo (Han)
    ("東京都",),        # Tokyo Metropolis — contains 東京
    ("大阪",),          # Osaka
    ("القاهرة",),       # Cairo (Arabic — spacing script)
    ("תל אביב",),      # Tel Aviv (Hebrew, two tokens)
    ("กรุงเทพ",),       # Bangkok (Thai)
    ("London",),       # cased — must be filtered out of the uncased path
    ("büyük şehir",),  # cased (has Ll) — filtered
    ("سن",),           # short Arabic surface for boundary tests
]


def _gaz_df(spark):
    return spark.createDataFrame(GAZ, "alias string")


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, t) for (c, i, t) in rows], "conv_id string, turn_idx int, text string"
    )


def test_uncased_gazetteer_filter(spark):
    kept = {r.g_alias for r in uncased_gazetteer(_gaz_df(spark)).collect()}
    assert "London" not in kept and "büyük şehir" not in kept
    assert {"東京", "東京都", "大阪", "القاهرة", "תל אביב", "กรุงเทพ", "سن"} <= kept


def test_cjk_and_invariant(spark):
    turns = _turns(spark, [("c1", 0, "昨日は東京と大阪に行きました")])
    out = gazetteer_tag_uncased(turns, _gaz_df(spark)).collect()
    got = {(r.mention, r.start_char, r.end_char) for r in out}
    assert got == {("東京", 3, 5), ("大阪", 6, 8)}
    text = "昨日は東京と大阪に行きました"
    for r in out:
        assert text[r.start_char : r.end_char] == r.mention
        assert r.mention_id == f"{r.conv_id}:{r.turn_idx}:{r.start_char}"
        assert r.tag == "LOC" and 0.9 <= r.ner_score <= 0.99


def test_maximal_match_suppression(spark):
    # 東京都 is in the gazetteer → the contained 東京 hit is dropped
    turns = _turns(spark, [("c1", 0, "東京都は大きい")])
    got = {(r.mention, r.start_char) for r in
           gazetteer_tag_uncased(turns, _gaz_df(spark)).collect()}
    assert got == {("東京都", 0)}


def test_cjk_containment_without_longer_surface(spark):
    # no longer surface known → the contained hit is legitimate
    # (ideographic scripts have no word delimiter)
    turns = _turns(spark, [("c1", 0, "大阪市に住む")])
    got = {(r.mention, r.start_char) for r in
           gazetteer_tag_uncased(turns, _gaz_df(spark)).collect()}
    assert got == {("大阪", 0)}


def test_arabic_word_boundary(spark):
    turns = _turns(
        spark,
        [
            ("c1", 0, "سافرت إلى القاهرة أمس"),   # Cairo, space-delimited → hit
            ("c1", 1, "كلمة سنوات طويلة"),        # سن INSIDE سنوات → no hit
            ("c1", 2, "عمره سن واحدة"),           # سن as its own word → hit
        ],
    )
    out = gazetteer_tag_uncased(turns, _gaz_df(spark)).collect()
    by_turn = {}
    for r in out:
        by_turn.setdefault(r.turn_idx, set()).add(r.mention)
    assert by_turn.get(0) == {"القاهرة"}
    assert 1 not in by_turn, f"boundary rule failed: {by_turn.get(1)}"
    assert by_turn.get(2) == {"سن"}
    # invariant holds on RTL text too (offsets are logical order)
    texts = {r["turn_idx"]: r["text"] for r in turns.collect()}
    for r in out:
        assert texts[r.turn_idx][r.start_char : r.end_char] == r.mention


def test_hebrew_multiword_surface(spark):
    turns = _turns(spark, [("c1", 0, "טסתי אל תל אביב אתמול")])
    got = {(r.mention, r.start_char, r.end_char) for r in
           gazetteer_tag_uncased(turns, _gaz_df(spark)).collect()}
    assert got == {("תל אביב", 8, 15)}


def test_union_with_cased_path_disjoint(spark):
    # one turn carries a cased mention AND an uncased one; the union
    # tags both, each exactly once, same schema
    turns = _turns(spark, [("c1", 0, "we flew from London to 東京 today")])
    full = extract_mentions_full(turns, _gaz_df(spark))
    rows = full.collect()
    got = {(r.mention, r.start_char, r.end_char) for r in rows}
    assert got == {("London", 13, 19), ("東京", 23, 25)}
    assert len(rows) == len(set(r.mention_id for r in rows))
    assert full.columns == [
        "conv_id", "turn_idx", "mention_id", "mention",
        "start_char", "end_char", "ner_score", "tag",
    ]


def test_latin_corpus_prunes_to_empty(spark):
    turns = _turns(spark, [("c1", i, f"all lowercase latin text {i}") for i in range(5)])
    assert gazetteer_tag_uncased(turns, _gaz_df(spark)).count() == 0
