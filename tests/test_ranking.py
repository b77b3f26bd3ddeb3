"""Candidate-ranking parity tests — semantics lifted from
/root/reference/tests/test_ranking.py."""

import pytest
from pyspark.sql import functions as F

from t_res_spark.functions.similarity import damlev_similarity, jaro_winkler_similarity
from t_res_spark.operators import ranking
from t_res_spark.oracle import block_keys


_KB_ROWS = [
    ("London", "Q84", 0.875, 43000000.0),
    ("London", "Q2477346", 0.125, 620000.0),
    ("Lancaster", "Q211583", 0.75, 300000.0),
    ("New York City", "Q60", 0.875, 9000000.0),
    ("New York", "Q60", 0.5, 5000000.0),
    ("Sheffield", "Q42448", 0.875, 4000000.0),
    ("Shefneld", "Q42448", 0.125, 1000.0),
    # share London's phonetic block, so a surface there has several
    # candidates and the cut rules differ
    ("Londen", "Q3", 0.5, 50.0),
    ("Lindenn", "Q4", 0.5, 50.0),
    # noisy aliases dropped at load (ranking.py:221-227)
    ("London, Greater London", "Q84", 0.5, 100.0),
    ("London (fictional)", "Q84", 0.5, 100.0),
]


@pytest.fixture(scope="module")
def kb(spark):
    return spark.createDataFrame(_KB_ROWS, "alias string, qid string, relv double, abs_relv double")


def _queries(spark, *surfaces):
    return spark.createDataFrame([(s,) for s in surfaces], "mention string")


def test_clean_aliases_filter_pushdown(kb):
    cleaned = ranking.clean_aliases(kb)
    got = {r["alias"] for r in cleaned.select("alias").distinct().collect()}
    assert "London, Greater London" not in got
    assert "London (fictional)" not in got
    assert "London" in got


def test_perfect_match(spark, kb):
    """ranking.py:286-325 — exact match score 1.0, misses absent."""
    out = ranking.perfect_match(
        _queries(spark, "London", "Lvndon"), ranking.clean_aliases(kb)
    ).collect()
    assert {(r["mention"], r["variation"], r["score"]) for r in out} == {
        ("London", "London", 1.0)
    }


def test_partial_match_containment_golden(spark, kb):
    """tests/test_ranking.py:77-80 — containment('New York',
    'New York City') == 8/13; keep-all-ties top-1."""
    out = ranking.partial_match(
        _queries(spark, "York New"),  # not an exact match; contains nothing
        ranking.clean_aliases(kb),
        damlev=False,
        use_blocking=False,
    ).collect()
    assert out == []  # no containment either direction

    out = ranking.partial_match(
        _queries(spark, "ork Cit"),
        ranking.clean_aliases(kb),
        damlev=False,
        use_blocking=False,
    ).collect()
    # 'ork Cit' ⊂ 'New York City' → 7/13
    assert len(out) == 1
    assert out[0]["variation"] == "New York City"
    assert abs(out[0]["score"] - 7 / 13) < 1e-12


def test_partial_match_damlev_golden(spark, kb):
    """tests/test_ranking.py:55-57 — damlev('Lvndon','London') == 5/6,
    and it is the unique top-1 distinct score."""
    out = ranking.partial_match(
        _queries(spark, "Lvndon"),
        ranking.clean_aliases(kb),
        damlev=True,
        use_blocking=False,
    ).collect()
    best = {r["variation"]: r["score"] for r in out}
    assert set(best) == {"London"}
    assert abs(best["London"] - 5 / 6) < 1e-9


def test_fuzzy_blocked_finds_ocr_variant(spark, kb):
    """The 'Shefiield' → Sheffield golden path
    (tests/test_ranking.py:240-247 analog) through real blocking."""
    cands = ranking.find_candidates(
        _queries(spark, "Shefiield", "London"),
        kb,
        method="fuzzy",
        threshold=0.7,
        top_k=3,
    )
    rows = cands.collect()
    got = {(r["mention"], r["qid"]) for r in rows}
    assert ("Shefiield", "Q42448") in got
    assert ("London", "Q84") in got and ("London", "Q2477346") in got
    # exact match short-circuits at 1.0
    assert {r["score"] for r in rows if r["mention"] == "London"} == {1.0}


def test_embedding_match(spark, kb):
    from t_res_spark.datagen import hashed_ngram_embedding

    kb_clean = ranking.clean_aliases(kb)
    emb_rows = [
        (a, hashed_ngram_embedding(a).tolist())
        for a in [r["alias"] for r in kb_clean.select("alias").distinct().collect()]
    ]
    emb = spark.createDataFrame(emb_rows, "key string, emb array<float>")
    out = ranking.embedding_match(
        _queries(spark, "Shefiield"), kb_clean, emb, threshold=0.5, top_k=3
    ).collect()
    assert any(r["variation"] == "Sheffield" for r in out)


def test_salting_preserves_results(spark, kb):
    q = _queries(spark, "Lvndon", "Shefiield", "Lancastor")
    a = ranking.find_candidates(q, kb, method="fuzzy", salt_factor=1)
    b = ranking.find_candidates(q, kb, method="fuzzy", salt_factor=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_no_forced_broadcast_on_unbounded_sides(spark, kb):
    """Scale guard: neither the alias-surface side of perfect_match nor
    the query-embedding side of embedding_match may carry a broadcast
    hint — both grow with the KB / corpus (10M+ aliases; most surfaces
    miss exact match on OCR-noisy text). AQE is free to promote small
    sides at runtime; what we assert is that the plan doesn't FORCE it."""
    from t_res_spark.datagen import EMB_DIM, hashed_ngram_embedding

    aliases = ranking.clean_aliases(kb)
    queries = _queries(spark, "London", "Lvndon")
    emb_kb = spark.createDataFrame(
        [(r["alias"], hashed_ngram_embedding(r["alias"], EMB_DIM).tolist())
         for r in kb.collect()],
        "key string, emb array<float>",
    )
    for df in (
        ranking.perfect_match(queries, aliases),
        ranking.embedding_match(queries, aliases, emb_kb),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed
        assert "UnresolvedHint" not in analyzed, analyzed


def test_jarowinkler_method_golden(spark, kb):
    """method='jarowinkler' in find_candidates: exact surfaces
    short-circuit at 1.0; the OCR variant scores its JW value
    (jaro_winkler_similarity('shefneld','sheffield') with the 0.7
    boost) and resolves through the alias map."""
    from t_res_spark.functions.similarity import jaro_winkler_similarity

    out = ranking.find_candidates(
        _queries(spark, "Sheffield", "Sheffeild"), kb, method="jarowinkler",
        threshold=0.8,
    )
    rows = {(r["mention"], r["variation"]): r["score"] for r in out.collect()}
    assert rows[("Sheffield", "Sheffield")] == 1.0
    # 'Sheffeild' is NOT a KB alias (no exact short-circuit) but shares
    # the phonetic block with 'Sheffield'
    expected = jaro_winkler_similarity("sheffeild", "sheffield")
    assert abs(rows[("Sheffeild", "Sheffield")] - expected) < 1e-12


def test_classify_ocr_variants(spark):
    """F4 — half-split fuzz.ratio gate (deezy_processing.py:52-85)."""
    pairs = spark.createDataFrame(
        [
            ("sheffield", "shetfield", False),   # OCR variant -> positive
            ("sheffield", "stratford", True),    # dissimilar English -> negative
            ("sheffield", "sheffield", True),    # identical English -> neutral
        ],
        "word string, nn_word string, nn_is_english boolean",
    )
    got = {r["nn_word"]: r["label"] for r in ranking.classify_ocr_variants(pairs).collect()}
    assert got["shetfield"] == "positive"
    assert got["stratford"] == "negative"
    assert got["sheffield"] == "neutral"


def test_classify_ocr_variants_containment_guard(spark):
    """deezy_processing.py:52 — containment pairs are skipped outright,
    never labelled positive/negative."""
    pairs = spark.createDataFrame(
        [("care", "carex", False), ("blackpool", "pool", True)],
        "word string, nn_word string, nn_is_english boolean",
    )
    got = {r["nn_word"]: r["label"] for r in ranking.classify_ocr_variants(pairs).collect()}
    assert got == {"carex": "neutral", "pool": "neutral"}


def test_block_keys_mirror_matches_spark(spark):
    """The oracle's pure-Python block keys equal Spark's
    ``with_block_keys`` — including on non-ASCII names, which both
    reduce to their [a-z0-9] chars."""
    from t_res_spark.operators.blocking import with_block_keys

    names = ["Łódź", "Évian", "São Paulo", "Zürich", "London", "İstanbul"]
    keyed = with_block_keys(_queries(spark, *names), "mention").collect()
    spark_keys = {n: set() for n in names}
    for r in keyed:
        spark_keys[r["mention"]].add(r["block_key"])
    assert spark_keys == {n: block_keys(n) for n in names}


@pytest.mark.parametrize("method", ["fuzzy", "levenshtein", "jarowinkler"])
def test_pair_kernel_runs_once_per_pair(spark, kb, method):
    """The optimized plan evaluates the Arrow pair kernel in one node:
    each blocked pair is joined once and scored once, and the keep
    filter sits above the cut, where Catalyst cannot push it below the
    scoring projection into a second kernel evaluation."""
    cands = ranking.find_candidates(
        _queries(spark, "Lvndon", "Shefiield", "London"), kb, method=method
    )
    plan = cands._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def _containment(q, a):
    ql, al = q.lower(), a.lower()
    if ql in al:
        return len(q) / len(a)
    if al in ql:
        return len(a) / len(q)
    return None


_SURFACES = ["London", "New York", "NEW YORK", "Londonn", "Londn", "Lvndon", "Shefiield",
             "Sheffeild", "Shefneld", "Lancastor", "Lancaster City", "Xqzul"]
_CLEAN_ALIASES = sorted({a for a, *_ in _KB_ROWS if ", " not in a and " (" not in a})


def _reference(score, threshold=None, top_k=None):
    """Pure-Python ranking: exact short-circuit, the aliases sharing a
    block key, ``score``, then keep-all-ties top-1 (``top_k=None``) or
    the (score desc, variation asc) top-k above ``threshold``."""
    qids = {a: [q for alias, q, *_ in _KB_ROWS if alias == a] for a in _CLEAN_ALIASES}
    out = set()
    for s in _SURFACES:
        if s in qids:
            kept = [(s, 1.0)]
        else:
            scored = [(a, score(s, a)) for a in sorted(qids) if block_keys(s) & block_keys(a)]
            scored = [(a, v) for a, v in scored
                      if v is not None and (threshold is None or v >= threshold)]
            if top_k is None:
                best = max((v for _, v in scored), default=None)
                kept = [(a, v) for a, v in scored if v == best]
            else:
                kept = sorted(scored, key=lambda av: (-av[1], av[0]))[:top_k]
        out |= {(s, a, round(v, 9), q) for a, v in kept for q in qids[a]}
    return out


@pytest.mark.parametrize("method,reference", [
    ("perfectmatch", dict(score=lambda q, a: None)),
    ("partialmatch", dict(score=_containment)),
    ("levenshtein", dict(score=damlev_similarity)),
    ("fuzzy", dict(score=damlev_similarity, threshold=0.7, top_k=1)),
    ("jarowinkler", dict(score=lambda q, a: jaro_winkler_similarity(q.lower(), a.lower()),
                         threshold=0.8, top_k=2)),
])
def test_find_candidates_matches_reference(spark, kb, method, reference):
    """Every string method through ``find_candidates`` is the one shape:
    exact → blocked pairs → score → cut, checked against a pure-Python
    reference over the block-key mirror and the similarity kernels."""
    top_k = reference.get("top_k", 3)
    got = ranking.find_candidates(
        _queries(spark, *_SURFACES), kb, method=method,
        threshold=reference.get("threshold", 0.7), top_k=top_k,
    ).collect()
    assert {(r["mention"], r["variation"], round(r["score"], 9), r["qid"]) for r in got} \
        == _reference(**reference)


def test_find_candidates_embcosine_needs_embeddings(spark, kb):
    """``embcosine`` without an embeddings table is a caller error that
    names the missing table, raised as ``ValueError`` so ``python -O``
    keeps it."""
    with pytest.raises(ValueError, match="embeddings_kb"):
        ranking.find_candidates(_queries(spark, "London"), kb, method="embcosine")


def test_find_candidates_embcosine(spark, kb):
    """``embcosine`` through ``find_candidates``: exact hits at 1.0, and
    every other surface keeps its blocked aliases whose embedding cosine
    clears the threshold, best first, at most ``top_k``."""
    import numpy as np

    from t_res_spark.datagen import hashed_ngram_embedding

    aliases = _CLEAN_ALIASES
    emb = spark.createDataFrame(
        [(a, hashed_ngram_embedding(a).tolist()) for a in aliases],
        "key string, emb array<float>",
    )
    got = ranking.find_candidates(
        _queries(spark, *_SURFACES), kb, embeddings_kb=emb, method="embcosine",
        threshold=0.5, top_k=1,
    ).collect()

    def cosine(q, a):
        return float(np.dot(hashed_ngram_embedding(q).astype(np.float64),
                            hashed_ngram_embedding(a).astype(np.float64)))

    want = {}
    for s in _SURFACES:
        if s in aliases:
            want[s] = {(s, 1.0)}
            continue
        scored = [(a, cosine(s, a)) for a in aliases if block_keys(s) & block_keys(a)]
        scored = sorted((av for av in scored if av[1] >= 0.5), key=lambda av: (-av[1], av[0]))
        want[s] = set(scored[:1])
    have = {}
    for r in got:
        have.setdefault(r["mention"], set()).add((r["variation"], r["score"]))
    assert {s: {a for a, _ in v} for s, v in have.items()} == \
        {s: {a for a, _ in v} for s, v in want.items() if v}
    for s, pairs in have.items():
        ref = dict(want[s])
        assert all(abs(v - ref[a]) < 1e-5 for a, v in pairs)
