"""HTTP serving layer: real round-trips against the reference's
endpoint surface (app_template.py:44-116 analog)."""

import json
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(spark):
    from t_res_spark.serving import TResService, start_server

    aliases = spark.createDataFrame(
        [
            ("london", "Q84", 0.5, 100.0),
            ("barnett", "Q1", 0.5, 50.0),
            ("paris", "Q90", 0.5, 90.0),
        ],
        "alias string, qid string, relv double, abs_relv double",
    )
    svc = TResService(spark, aliases)
    srv, _thread = start_server(svc)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url: str, body: dict | None = None):
    import urllib.error

    req = urllib.request.Request(
        url,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"},
        method="POST" if body is not None else "GET",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_and_root(server):
    assert _get(f"{server}/health") == (200, {"status": "ok"})
    status, body = _get(f"{server}/")
    assert status == 200 and "Welcome to T-Res!" in body


def test_run_ner(server):
    status, body = _get(f"{server}/run_ner", {"text": "We saw London today."})
    assert status == 200
    assert [m["mention"] for m in body] == ["London"]
    assert body[0]["pos"] == 7 and body[0]["tag"] == "LOC"


def test_resolve_full_text_two_sentences(server):
    status, body = _get(
        f"{server}/resolve_full_text",
        {"text": "We saw London. Then Paris was next."},
    )
    assert status == 200
    by_mention = {d["mention"]: d for d in body}
    assert by_mention["London"]["prediction"] == "Q84"
    assert by_mention["Paris"]["prediction"] == "Q90"
    assert by_mention["Paris"]["sent_idx"] == 1  # split happened


def test_candidate_selection_and_disambiguation(server):
    status, cands = _get(
        f"{server}/run_candidate_selection", {"toponyms": ["london", "xqzul"]}
    )
    assert status == 200
    assert cands["london"]["london"]["score"] == 1.0
    assert cands["london"]["london"]["qids"] == ["Q84"]
    assert cands["xqzul"] == {}

    status, dis = _get(
        f"{server}/run_disambiguation", {"toponyms": ["london", "xqzul"]}
    )
    assert status == 200
    assert dis["london"]["prediction"] == "Q84"
    assert dis["xqzul"]["prediction"] == "NIL"


def test_repeated_toponyms_answer_as_once(server):
    """A toponym listed twice, exact (``london``) or fuzzy (``lndon``),
    gets the same candidates and the same prediction and score as when
    listed once."""
    once, twice = ["london", "lndon"], ["london", "lndon", "london", "lndon"]
    for route in ("run_candidate_selection", "run_disambiguation"):
        status, single = _get(f"{server}/{route}", {"toponyms": once})
        assert status == 200 and single["lndon"]
        assert _get(f"{server}/{route}", {"toponyms": twice}) == (200, single)


def test_missing_params_and_unknown_route(server):
    status, body = _get(f"{server}/run_ner", {})
    assert status == 400 and "error" in body
    status, body = _get(f"{server}/nope")
    assert status == 404 and "error" in body


def test_non_object_json_body_is_400(server):
    """ADVICE r4: a body that parses to a JSON list/string/number must
    be a 400 (malformed request), not a 500, and error bodies never
    echo internals."""
    status, body = _get(f"{server}/run_ner", ["not", "an", "object"])
    assert status == 400
    assert "JSON object" in body["error"]
    # undecodable body falls back to query params → missing 'text' 400
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        f"{server}/run_ner",
        data=b"\xff\xfe not json",
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            status, body = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert status == 400 and "text" in body["error"]


def test_run_ner_tags_uncased_scripts(spark):
    """/run_ner uses the same script-agnostic extractor as the resolve
    endpoints: a KB surface in an uncased script is tagged, and its
    span slices back to it."""
    from t_res_spark.serving import TResService

    aliases = spark.createDataFrame(
        [("東京", "Q1490", 1.0, 100.0)],
        "alias string, qid string, relv double, abs_relv double",
    )
    text = "昨日は東京に行きました"
    got = TResService(spark, aliases).run_ner(text)
    assert [m["mention"] for m in got] == ["東京"]
    assert text[got[0]["pos"]:got[0]["end_pos"]] == "東京"
