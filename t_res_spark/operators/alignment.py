"""Span alignment + evaluation operators.

- J6 — pred↔gold mention alignment by maximum token/char-range overlap
  within a turn (/root/reference/experiments/experiment.py:404-416):
  an interval join on (conv_id, turn_idx) + overlap predicate, ranked
  by overlap size.
- J7 — gold-span labelling of extracted tokens
  (/root/reference/utils/process_data.py:132-196): the same range join
  with B-/I- position semantics.
- A7 — micro precision/recall/F1 counting
  (/root/reference/utils/REL/entity_disambiguation.py:1074-1104),
  distributed: one agg over labeled pairs (the BASELINE.json pairwise
  metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def align_spans(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """J6 — for each predicted mention, the gold span with maximal char
    overlap in the same turn (ties: earliest gold start).

    pred: (conv_id, turn_idx, mention, start_char, end_char)
    gold: (conv_id, turn_idx, gold_mention, gold_start, gold_end, gold_qid)

    The join condition is a genuine interval predicate
    (start < gold_end && gold_start < end) on top of the turn equi-keys,
    so Spark plans an equi-join with a range residual — no cross join.
    """
    overlap = F.least(F.col("end_char"), F.col("gold_end")) - F.greatest(
        F.col("start_char"), F.col("gold_start")
    )
    p, g = pred.alias("p"), gold.alias("g")
    cond = (
        (F.col("p.conv_id") == F.col("g.conv_id"))
        & (F.col("p.turn_idx") == F.col("g.turn_idx"))
        # the interval predicate lives IN the join condition so
        # unaligned predictions survive the left join (a post-join
        # filter would drop them together with the non-overlapping rows)
        & (F.col("p.start_char") < F.col("g.gold_end"))
        & (F.col("g.gold_start") < F.col("p.end_char"))
    )
    joined = p.join(g, cond, "left").drop(F.col("g.conv_id")).drop(
        F.col("g.turn_idx")
    )
    # Best-overlap selection as a map-side-combinable min_by aggregation
    # ("aggregate before you shuffle"): a row_number window would
    # shuffle EVERY joined (pred × overlapping-gold) row and pay two
    # sorts; the partial aggregate reduces each (conv_id, turn_idx,
    # start_char) group to one row before the exchange and needs no
    # sort at all. The min_by ordering struct encodes the
    # (overlap DESC NULLS LAST, gold_start ASC NULLS FIRST,
    # gold_qid ASC NULLS FIRST) order exactly: field 1
    # negates overlap (desc) and maps the unaligned row's NULL to
    # int-max so any matched row beats it (desc_nulls_last); fields
    # 2/3 map NULL to the smallest value (asc nulls-first) — those
    # coalesces only ever decide order-degenerate groups (all-NULL
    # ties).
    ord_key = F.struct(
        F.coalesce(-overlap, F.lit(2147483647)).alias("k1"),
        F.coalesce(F.col("gold_start"), F.lit(-2147483648)).alias("k2"),
        F.coalesce(F.col("gold_qid"), F.lit("")).alias("k3"),
    )
    payload = F.struct(
        F.col("mention"),
        F.col("end_char"),
        F.col("gold_mention"),
        F.col("gold_start"),
        F.col("gold_end"),
        F.col("gold_qid"),
        F.greatest(overlap, F.lit(0)).alias("ov"),
    )
    best = joined.groupBy("conv_id", "turn_idx", "start_char").agg(
        F.min_by(payload, ord_key).alias("b")
    )
    return best.select(
        "conv_id",
        "turn_idx",
        F.col("b.mention").alias("mention"),
        "start_char",
        F.col("b.end_char").alias("end_char"),
        F.col("b.gold_mention").alias("gold_mention"),
        F.col("b.gold_start").alias("gold_start"),
        F.col("b.gold_end").alias("gold_end"),
        F.col("b.gold_qid").alias("gold_qid"),
        F.col("b.ov").alias("overlap_chars"),
    )


def evaluate_pairwise_f1(clusters: DataFrame, labeled_pairs: DataFrame) -> DataFrame:
    """A7 — distributed pairwise linkage F1 (BASELINE.json metric):
    a pair is predicted-same iff both mentions carry the same cluster_id.
    Two broadcast-able joins + one global agg; returns a single row
    (tp, fp, fn, tn, precision, recall, f1)."""
    labels = clusters.select("mention_id", "cluster_id")
    a = labels.select(
        F.col("mention_id").alias("mention_id_a"), F.col("cluster_id").alias("ca")
    )
    b = labels.select(
        F.col("mention_id").alias("mention_id_b"), F.col("cluster_id").alias("cb")
    )
    scored = (
        labeled_pairs.join(a, "mention_id_a", "left")
        .join(b, "mention_id_b", "left")
        .withColumn(
            "pred_same",
            F.col("ca").isNotNull() & F.col("cb").isNotNull() & (F.col("ca") == F.col("cb")),
        )
    )
    agg = scored.agg(
        F.sum(F.when(F.col("pred_same") & F.col("same_entity"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred_same") & ~F.col("same_entity"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred_same") & F.col("same_entity"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("pred_same") & ~F.col("same_entity"), 1).otherwise(0)).alias("tn"),
    )
    return agg.select(
        "tp", "fp", "fn", "tn",
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias("recall"),
        (
            2 * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1))
        ).alias("f1"),
    )


def cross_cand_normalize(scored: DataFrame, score_col: str = "raw_score") -> DataFrame:
    """A6 — the reference's cross-candidate normalisation
    (/root/reference/utils/REL/entity_disambiguation.py:432-457):
    min-max rescale per mention, then ratio-over-sum; an all-equal group
    yields zeros. Pure window math."""
    w = Window.partitionBy("mention")
    mn, mx = F.min(score_col).over(w), F.max(score_col).over(w)
    rescaled = F.when(mx > mn, (F.col(score_col) - mn) / (mx - mn)).otherwise(F.lit(0.0))
    out = scored.withColumn("_rescaled", rescaled)
    total = F.sum("_rescaled").over(w)
    return out.withColumn(
        "norm_score",
        F.when(total > 0, F.col("_rescaled") / total).otherwise(F.lit(0.0)),
    ).drop("_rescaled")


def dedup_alias_casing(aliases: DataFrame) -> DataFrame:
    """W8 — lowercase-dedup keeping the casing with the most entities
    (/root/reference/utils/deezy_processing.py:346-368): window over
    lower(alias) ordered by entity count desc (alias asc tie-break)."""
    counts = aliases.groupBy("alias").agg(F.countDistinct("qid").alias("n_entities"))
    w = Window.partitionBy(F.lower(F.col("alias"))).orderBy(
        F.desc("n_entities"), F.asc("alias")
    )
    keep = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("alias")
    )
    return aliases.join(keep, "alias", "left_semi")


def align_gold_tokens(tokens: DataFrame, gold: DataFrame) -> DataFrame:
    """J7 — B-/I- position-rule labelling of predicted tokens against
    gold spans (/root/reference/utils/process_data.py:130-196
    ``align_gold``): a token is

    - ``B-<TYPE>`` when ``tok_start == gold_start`` and
      ``tok_end <= gold_end`` (first token of the entity),
    - ``I-<TYPE>`` when ``tok_start > gold_start`` and
      ``tok_end <= gold_end`` (inside the entity),
    - ``O`` otherwise (incl. tokens overhanging the span end — exactly
      the reference's fall-through).

    ``link`` is labelled with the same prefixes over ``gold_qid``
    (process_data.py:186-190). Gold spans are non-overlapping in the
    reference's data; if they do overlap, the earliest-starting
    (then lexicographic-qid) span wins deterministically, where the
    reference's dict-iteration order is last-write.

    tokens: (conv_id, turn_idx, tok_start, tok_end)
    gold:   (conv_id, turn_idx, gold_start, gold_end, gold_type, gold_qid)
    """
    g = gold.select(
        "conv_id", "turn_idx", "gold_start", "gold_end",
        F.upper("gold_type").alias("gold_type"), "gold_qid",
    )
    joined = tokens.join(
        g,
        [
            tokens["conv_id"] == g["conv_id"],
            tokens["turn_idx"] == g["turn_idx"],
            tokens["tok_start"] >= g["gold_start"],
            tokens["tok_end"] <= g["gold_end"],
        ],
        "left",
    ).select(tokens["*"], "gold_start", "gold_type", "gold_qid")
    # Earliest-span selection as a map-side-combinable min_by aggregate
    # (same reasoning as align_spans: a row_number window would shuffle
    # every token × covering-span row and pay two sorts; the partial
    # aggregate sends one row per token through the exchange,
    # sort-free). Grouping on tok_end too: two distinct tokens can
    # share a start offset (overlapping tokenizations) and each must
    # get its own label. NULL mapping in the ordering struct is
    # asc-nulls-first; a group is either all-matched or the single
    # unaligned row, so the coalesce never decides against a real
    # span.
    ord_key = F.struct(
        F.coalesce(F.col("gold_start"), F.lit(-2147483648)).alias("k1"),
        F.coalesce(F.col("gold_qid"), F.lit("")).alias("k2"),
    )
    payload = F.struct("gold_start", "gold_type", "gold_qid")
    best = joined.groupBy("conv_id", "turn_idx", "tok_start", "tok_end").agg(
        F.min_by(payload, ord_key).alias("b")
    )
    prefix = F.when(
        F.col("tok_start") == F.col("b.gold_start"), "B-"
    ).otherwise("I-")
    return best.select(
        "conv_id", "turn_idx", "tok_start", "tok_end",
        F.when(F.col("b.gold_start").isNull(), "O")
        .otherwise(F.concat(prefix, F.col("b.gold_type")))
        .alias("entity"),
        F.when(F.col("b.gold_start").isNull(), "O")
        .otherwise(F.concat(prefix, F.col("b.gold_qid")))
        .alias("link"),
        F.lit(1.0).alias("score"),
    )
