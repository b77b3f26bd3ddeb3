"""Gazetteer-anchored tagging for uncased scripts.

The rule-based tagger in ``extraction.py`` needs a capitalization
signal, so scripts with no letter case — CJK, Arabic, Hebrew, Thai,
Devanagari, … (Unicode category Lo, "other letter") — yield nothing,
where the reference's model NER does tag them
(/root/reference/geoparser/recogniser.py:331). This operator closes
that gap without model weights: known alias surfaces from the
gazetteer are matched directly against turn text.

Semantics (deterministic, fully SQL-expressible — the gate oracle
recomputes it in DuckDB rather than stating golden values):

- gazetteer side: only surfaces with NO case signal participate
  (first char Lo, at least one Lo, zero Lu/Ll/Lt chars), length
  bounded to [2, max_len] — the cased path stays untouched and the
  two paths are disjoint by construction (a cased mention needs an
  Lu char, an uncased surface has none);
- text side: scan-pruned to turns containing an Lo char (same
  highest-leverage prefilter doctrine as the cased path);
- candidate generation: every char position is a potential match
  start; positions are blocked against the gazetteer on the first
  ``block_chars`` characters (a broadcast hash join — the per-position
  probe IS the filter), then verified with one substring equality;
- word-boundary rule: for aliases in spacing scripts (Arabic/Hebrew,
  where words are whitespace-delimited and a substring hit inside a
  longer word is spurious) the chars adjacent to the match must not be
  letters; ideographic scripts (Han, Kana, Thai) have no word
  delimiter, so containment hits like 東京 inside 東京都 are kept
  unless the gazetteer itself knows the longer surface;
- overlap rule: **maximal match** — a match strictly contained in a
  longer match on the same turn is dropped (so 東京都 suppresses 東京
  when both are in the gazetteer). This is the SQL-expressible analog
  of the reference NER's longest-span aggregation
  (/root/reference/utils/ner.py:182-294).

Output contract is identical to ``extraction.extract_mentions``
(conv_id, turn_idx, mention_id, mention, start_char, end_char,
ner_score, tag) with the same text-equality invariant
``text[start_char:end_char] == mention`` and the same
``conv_id:turn_idx:start_char`` mention-id convention; ner_score
mirrors ``extraction.token_ner_score`` for a single entity-shaped
token: round(0.9 + min(len, 9)/100, 3).

Scale notes (100 TB):
- the gazetteer side is broadcast: bounded by the uncased subset of
  the alias KB (SCALE.md budgets the whole KB in the low GBs; the
  uncased subset is a fraction of it). Above broadcast size the same
  plan runs as a shuffle hash join on the block key — flip the
  ``broadcast_gazetteer`` flag;
- the position explode is linear in text length and pipelined inside
  whole-stage codegen (explode → substring → broadcast-probe, no
  materialization); only turns that pass the \\p{Lo} scan prefilter
  pay it at all — a latin-only corpus prunes at the parquet scan;
- the containment anti-join runs on the (tiny) match set, keyed by
  turn — never on the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Java regex: \p{Lo} = "other letter" (uncased scripts); the spacing
# scripts whose matches need word boundaries.
_LO = "\\p{Lo}"
_CASED = "[\\p{Lu}\\p{Ll}\\p{Lt}]"
_SPACING_LO = "[\\p{IsArabic}\\p{IsHebrew}]"
_LETTER = "\\p{L}"


def uncased_gazetteer(
    aliases: DataFrame, alias_col: str = "alias", max_len: int = 24
) -> DataFrame:
    """The no-case-signal subset of the gazetteer (see module doc)."""
    a = F.col(alias_col)
    return (
        aliases.select(a.alias("g_alias"))
        .filter(F.col("g_alias").rlike(f"^{_LO}"))
        .filter(~F.col("g_alias").rlike(_CASED))
        .filter(F.length("g_alias").between(2, max_len))
        .distinct()
    )


def gazetteer_tag_uncased(
    transcripts: DataFrame,
    aliases: DataFrame,
    alias_col: str = "alias",
    block_chars: int = 2,
    max_len: int = 24,
    broadcast_gazetteer: bool = True,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, …) × gazetteer → mentions
    in uncased scripts. Entirely native column ops — no Python UDF
    anywhere on this path."""
    gaz = (
        uncased_gazetteer(aliases, alias_col, max_len)
        .withColumn("g_len", F.length("g_alias"))
        .withColumn("bk", F.substring("g_alias", 1, block_chars))
        .withColumn("g_bound", F.col("g_alias").rlike(_SPACING_LO))
    )
    if broadcast_gazetteer:
        gaz = F.broadcast(gaz)

    turns = transcripts.select("conv_id", "turn_idx", "text").filter(
        F.col("text").rlike(_LO)
    )
    pos = turns.select(
        "conv_id",
        "turn_idx",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
    ).withColumn("bk", F.expr(f"substring(text, pos, {block_chars})"))

    hits = (
        pos.join(gaz, "bk")
        .filter(F.expr("substring(text, pos, g_len) = g_alias"))
        .filter(
            # word boundaries for spacing scripts only
            ~F.col("g_bound")
            | (
                (
                    (F.col("pos") == 1)
                    | ~F.expr("substring(text, pos - 1, 1)").rlike(_LETTER)
                )
                & (
                    (F.col("pos") + F.col("g_len") > F.length("text"))
                    | ~F.expr("substring(text, pos + g_len, 1)").rlike(_LETTER)
                )
            )
        )
        .select(
            "conv_id",
            "turn_idx",
            (F.col("pos") - 1).alias("start_char"),
            (F.col("pos") - 1 + F.col("g_len")).alias("end_char"),
            F.col("g_alias").alias("mention"),
            F.col("g_len").alias("m_len"),
        )
    )

    # maximal-match suppression: drop matches strictly contained in a
    # longer match on the same turn (anti-join on the small match set).
    # Every `containers` column is RENAMED (c_conv/c_turn, not just the
    # span columns) so the self-join condition never references the
    # same attribute on both sides. A hits["conv_id"] ==
    # containers["conv_id"] form would lean on Spark's dataset-id
    # disambiguation (it warns "Constructing trivially true equals
    # predicate"); if that resolution ever degraded, the containment
    # suppression would silently go cross-turn.
    containers = hits.select(
        F.col("conv_id").alias("c_conv"),
        F.col("turn_idx").alias("c_turn"),
        F.col("start_char").alias("c_start"),
        F.col("end_char").alias("c_end"),
        F.col("m_len").alias("c_len"),
    )
    maximal = hits.join(
        containers,
        on=[
            hits["conv_id"] == containers["c_conv"],
            hits["turn_idx"] == containers["c_turn"],
            containers["c_start"] <= hits["start_char"],
            containers["c_end"] >= hits["end_char"],
            containers["c_len"] > hits["m_len"],
        ],
        how="left_anti",
    )

    return maximal.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.concat_ws(":", "conv_id", "turn_idx", "start_char").alias("mention_id"),
        "mention",
        F.col("start_char").cast("int").alias("start_char"),
        F.col("end_char").cast("int").alias("end_char"),
        F.round(
            F.lit(0.9) + F.least(F.col("m_len"), F.lit(9)) / F.lit(100.0), 3
        ).alias("ner_score"),
        F.lit("LOC").alias("tag"),
    )


def extract_mentions_full(
    transcripts: DataFrame, gazetteer: DataFrame, alias_col: str = "alias",
) -> DataFrame:
    """Cased rule-based extraction ∪ uncased gazetteer-anchored
    extraction — the complete analog of the reference's script-agnostic
    model NER. The two paths are disjoint by construction (module doc),
    so the union never double-tags a span."""
    from .extraction import extract_mentions

    return extract_mentions(transcripts).unionByName(
        gazetteer_tag_uncased(transcripts, gazetteer, alias_col=alias_col)
    )
