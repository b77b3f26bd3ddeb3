"""Text-analysis operators: language ID, quality, token counts,
fingerprints — plus multimodal plumbing determinism."""

import pytest
from pyspark.sql import functions as F

from t_res_spark.operators import multimodal, text_analysis as ta


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog sat in the garden and it was warm for october"),
        (1, "der hund und die katze sind nicht mit der maus von dem haus"),
        (2, "le chat et le chien sont pour la maison des champs que une fois"),
        (3, "xyzzy qwerty plugh"),
        (4, "!!! ??? ... ###"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_language_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in ta.with_language_id(docs).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_quality_score_ordering(docs):
    out = {r["doc_id"]: r for r in ta.with_quality_score(docs).collect()}
    assert out[0]["quality_score"] > out[4]["quality_score"]  # prose > punct noise
    assert out[4]["punct_ratio"] > 0.5
    assert 0.0 <= out[0]["quality_score"] <= 1.0


def test_token_counts(docs):
    out = {r["doc_id"]: r for r in ta.with_token_counts(docs).collect()}
    assert out[3]["ws_tokens"] == 3
    assert out[3]["subword_tokens_est"] >= 3
    assert out[0]["chars_per_token"] == pytest.approx(
        len("the cat and the dog sat in the garden and it was warm for october") / 15,
        abs=1e-4,  # engine rounds to 4 dp by default
    )


def test_decade_truncates_toward_zero(spark):
    """F11 matches the reference's int(year/10)*10 for BC years too
    (ADVICE r03): timestamps can't carry negative years, so the decade
    expression (dividend-signed %) is checked directly on int years."""
    df = spark.createDataFrame(
        [(-5,), (-17,), (5,), (1843,)], "year int"
    ).select(
        "year", (F.col("year") - F.col("year") % F.lit(10)).alias("decade")
    )
    out = {r["year"]: r["decade"] for r in df.collect()}
    assert out[-5] == 0  # int(-5/10)*10 = 0, NOT floor's -10
    assert out[-17] == -10
    assert out[5] == 0
    assert out[1843] == 1840
    # and the operator end-to-end on a real timestamp
    ts = spark.createDataFrame(
        [(1, "1843-07-01 00:00:00")], "event_id int, s string"
    ).withColumn("ts", F.to_timestamp("s"))
    r = ta.with_decade(ts).collect()[0]
    assert (r["year"], r["decade"]) == (1843, 1840)


def test_fingerprint_stability(spark, docs):
    a = {r["doc_id"]: r["fp_hash"] for r in ta.with_fingerprint(docs).collect()}
    whitespace_variant = spark.createDataFrame(
        [(0, "the cat  and the dog   sat in the garden and it was warm for october")],
        "doc_id long, text string",
    )
    b = ta.with_fingerprint(whitespace_variant).collect()[0]["fp_hash"]
    assert a[0] == b  # whitespace-normalized


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [("m1", "image", bytearray(b"imagebytes")),
         ("m2", "audio", bytearray(b"audiobytes")),
         ("m3", "video", None)],
        "media_id string, kind string, payload binary",
    )
    out = {r["media_id"]: r for r in multimodal.extract_media_features(media).collect()}
    assert out["m1"]["n_bytes"] == 10
    assert len(out["m1"]["feature"]) == 16
    assert out["m3"]["n_bytes"] == 0  # null payload handled
    # determinism: same payload → same feature
    again = {r["media_id"]: r for r in multimodal.extract_media_features(media).collect()}
    assert out["m1"]["feature"] == again["m1"]["feature"]
