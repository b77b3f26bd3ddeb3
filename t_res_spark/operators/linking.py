"""Stage 4 — linking / disambiguation (the reference's Linker re-expressed).

All scoring is native column math (A2/A5/F5/F6 of SURVEY §2) — no UDFs
in this stage; Tungsten codegen end-to-end.

Input contract: candidates(mention, variation, score, qid, relv, abs_relv)
from operators.ranking (one row per (mention, variation, qid)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import capped_distance_score, haversine_km

NIL = "NIL"  # /root/reference/geoparser/linking.py:239 convention


def most_popular(candidates: DataFrame) -> DataFrame:
    """A2 — most-popular disambiguation
    (/root/reference/geoparser/linking.py:216-264).

    Per mention surface, over all (variation, qid) candidate pairs:
    the prediction is the pair with the highest absolute relevance
    (``mentions_to_wikidata[variation][candidate]`` → our ``abs_relv``);
    ``link_score = max(abs_relv) / sum(abs_relv)`` where the sum runs
    over all pairs (a qid reachable via two variations counts twice,
    exactly as the reference's ``total_score`` accumulation does).

    Tie-break: the reference keeps the first dict-order pair on equal
    scores (insertion order — not reproducible distributed); we use the
    deterministic (abs_relv desc, qid asc) ordering. Golden parity:
    tests/test_linking.py:41-43.

    Returns (mention, prediction, link_score). Mentions with no
    candidate rows are absent — the caller left-joins and coalesces to
    NIL/0.0 (linking.py:239-244).
    """
    w = Window.partitionBy("mention")
    ranked = (
        candidates.withColumn("total", F.sum("abs_relv").over(w))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("mention").orderBy(
                    F.desc("abs_relv"), F.asc("qid"), F.asc("variation")
                )
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return ranked.select(
        "mention",
        F.col("qid").alias("prediction"),
        (F.col("abs_relv") / F.col("total")).alias("link_score"),
    )


def by_distance(
    candidates: DataFrame,
    entities: DataFrame,
    origins: DataFrame,
    cap_km: float = 1000.0,
) -> DataFrame:
    """F5/J10 — by-distance disambiguation
    (/root/reference/geoparser/linking.py:266-330).

    ``origins`` carries (mention, origin_qid) — the per-conversation
    analog of the reference's place-of-publication ``place_wqid``.
    Candidates with invalid coordinates are skipped (the "candidate in
    Venus" ValueError guard, linking.py:316-318 → a range predicate
    here). Prediction = closest candidate; final score =
    round((pair_relv_avg + capped_distance_score)/2, 3)
    (linking.py:320-338)."""
    coords = entities.select("qid", "lat", "lon").filter(
        (F.abs(F.col("lat")) <= 90) & (F.abs(F.col("lon")) <= 180)
    )
    ocoords = coords.select(
        F.col("qid").alias("origin_qid"),
        F.col("lat").alias("olat"),
        F.col("lon").alias("olon"),
    )
    # No broadcast hints: a real gazetteer is ~10M rows with class
    # strings (hundreds of MB serialized) — at the edge of safe
    # broadcast. AQE promotes these joins to broadcast when the side is
    # actually small and sort-merges otherwise (same treatment as the
    # ranking-side corpus joins; plan-tested for no ResolvedHint).
    scored = (
        candidates.join(coords, "qid", "inner")
        .join(origins, "mention", "inner")
        .join(ocoords, "origin_qid", "inner")
        .withColumn(
            "geodist",
            haversine_km(F.col("olat"), F.col("olon"), F.col("lat"), F.col("lon")),
        )
    )
    w = Window.partitionBy("mention").orderBy(
        F.asc("geodist"), F.asc("qid"), F.asc("variation")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("geodist") < F.lit(cap_km))
    )
    return best.select(
        "mention",
        F.col("qid").alias("prediction"),
        F.round(
            (
                (F.col("score") + F.col("relv")) / 2
                + capped_distance_score(F.col("geodist"), cap_km)
            )
            / 2,
            3,
        ).alias("link_score"),
    )


def rank_candidates(candidates: DataFrame, round_dp: int | None = 3) -> DataFrame:
    """A5 — the REL-prep candidate scoring
    (/root/reference/utils/rel_utils.py:180-231), exact math:

        qcm2w    = relv                     (normalized m2w relevance)
        qcm2w    = (relv + score)/2          if match score non-zero
        qc_score = ((abs_relv/max(abs_relv over mention) + qcm2w)/2) * 0.9
        rounded to 3 dp; ordered by (qc_score, qid) DESC — the exact
        tie-break the reference sorts with (rel_utils.py:227), which W3
        marks as critical for parity.

    Returns (mention, variation, qid, qc_score, cand_rank).
    """
    w = Window.partitionBy("mention")
    qcm2w = F.when(
        F.col("score") != 0.0, (F.col("relv") + F.col("score")) / 2
    ).otherwise(F.col("relv"))
    raw = ((F.col("abs_relv") / F.max("abs_relv").over(w) + qcm2w) / 2) * 0.9
    # round_dp=None keeps raw doubles (bit-stable for oracle comparison;
    # Spark's HALF_UP on binary doubles differs from DuckDB's rounding on
    # exact-half values, so the oracle-gated query skips the round)
    scored = candidates.withColumn(
        "qc_score", F.round(raw, round_dp) if round_dp is not None else raw
    )
    order = Window.partitionBy("mention").orderBy(F.desc("qc_score"), F.desc("qid"))
    return scored.withColumn("cand_rank", F.row_number().over(order)).select(
        "mention", "variation", "qid", "qc_score", "cand_rank"
    )


def lr_confidence(score, a: float = 6.0, b: float = -3.0):
    """ML6 — closed-form logistic-regression confidence:
    ``sigmoid(a*score + b)``.

    The reference scores its ED output with a scikit LogisticRegression
    over the best candidate score
    (/root/reference/utils/REL/entity_disambiguation.py:473-494
    ``__compute_confidence`` → predict_proba on X = [[best_score]]);
    predict_proba of a 1-feature LR IS sigmoid(coef*x + intercept), so
    the distributed form is one native column expression with fixed
    (a, b) standing in for the offline-trained coefficients. Defaults
    map score 0.5 → confidence 0.5, score 1.0 → ≈0.953."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(a) * score + F.lit(b))))


def invert_alias_map(aliases: DataFrame) -> DataFrame:
    """A1 — alias-map inversion: mentions_to_wikidata →
    wikidata_to_mentions (/root/reference/geoparser/ranking.py:154-184
    load surface; the reference materialises both dict orientations
    offline). Output: one row per (qid, alias) with the per-QID
    normalized relevance ``relv_norm = abs_relv / sum(abs_relv) over
    qid`` — a map-side-combinable groupBy + window, no driver state."""
    w = Window.partitionBy("qid")
    return (
        aliases.groupBy("qid", "alias")
        .agg(F.max("abs_relv").alias("abs_relv"))
        .withColumn("relv_norm", F.col("abs_relv") / F.sum("abs_relv").over(w))
        .select("qid", "alias", "abs_relv", "relv_norm")
    )


def link_mentions(
    mentions: DataFrame,
    predictions: DataFrame,
    entities: DataFrame | None = None,
) -> DataFrame:
    """Attach per-surface predictions back to mention instances
    (left join; misses → NIL/0.0, linking.py:239-244), then decorate
    with coordinates + entity class (J10, pipeline.py:378-383) when an
    entities table is supplied."""
    out = (
        mentions.join(predictions, "mention", "left")
        .withColumn("prediction", F.coalesce(F.col("prediction"), F.lit(NIL)))
        .withColumn("link_score", F.coalesce(F.col("link_score"), F.lit(0.0)))
        .withColumn("lr_conf", lr_confidence(F.col("link_score")))
    )
    if entities is not None:
        # no forced broadcast of the gazetteer dimension (see
        # by_distance) — AQE picks the strategy from actual size
        decor = entities.select(
            F.col("qid").alias("prediction"), "lat", "lon", "wkdt_class"
        )
        out = out.join(decor, "prediction", "left")
    return out
