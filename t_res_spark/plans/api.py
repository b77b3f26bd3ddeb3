"""The reference's primary interactive API, re-expressed.

``Pipeline.run_text(text, ...)`` (/root/reference/geoparser/pipeline.py:
387-490; output contract README.md:75-105) returns one dict per mention
with the prediction, scores, and gazetteer decoration. This module
reproduces that surface on top of ``plans.pipeline.resolve``: the text
is sentence-split (offset-preserving), run through the same stage graph
as any batch, and its candidates and linked mentions are collected into
the reference's dict shape.

This is the INTERACTIVE path — it collects one text's candidates and
mentions to the driver by design (the reference's API is synchronous
too; its HTTP app calls exactly this). Batch/cluster work reads
``resolve()``'s result frames and never collects.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession

from ..streaming.incremental import TRANSCRIPT_SCHEMA_DDL
from .pipeline import PipelineConfig, resolve

# Second alternative captures punctuation-only runs (a text starting
# with '...' or '?!'), so every character lands in exactly one chunk
# and concatenation restores the text — the stated invariant — instead
# of silently dropping leading sentence punctuation. Terminators cover
# the common non-ASCII sentence punctuation too (CJK full stops,
# fullwidth !/?, Arabic question mark, ellipsis), matching the unicode
# classes the extraction tagger accepts.
_TERM = ".!?。！？．؟…"
_SENTENCE = re.compile(rf"[^{_TERM}]+[{_TERM}]*\s*|[{_TERM}]+\s*")
_PUNCT_ONLY = re.compile(rf"^[{_TERM}\s]*$")

# candidates kept per surface by the interactive surface (run_text and
# the serving endpoints); batch runs keep PipelineConfig().top_k
TOP_K = 7


def split_sentences(text: str) -> list[tuple[int, str, int]]:
    """(sent_idx, sentence, start_offset) — offset-preserving splitter
    (the reference uses an external sentence splitter,
    pipeline.py:462; same contract: concatenation restores the text).

    Punctuation-only chunks (a mid-text '...' run) are merged into the
    PRECEDING sentence — like a real sentence splitter, they never
    become standalone turns that would shift ``sent_idx`` for the
    sentences after them; a punctuation-only prefix attaches to the
    following sentence instead."""
    chunks: list[tuple[str, int]] = []
    pending = ""  # punctuation-only prefix awaiting a real sentence
    pending_start = 0
    for m in _SENTENCE.finditer(text):
        s = m.group()
        if _PUNCT_ONLY.match(s):
            if chunks:
                prev_s, prev_off = chunks[-1]
                chunks[-1] = (prev_s + s, prev_off)
            else:
                if not pending:
                    pending_start = m.start()
                pending += s
        elif pending:
            chunks.append((pending + s, pending_start))
            pending = ""
        else:
            chunks.append((s, m.start()))
    if pending:
        chunks.append((pending, pending_start))
    return [(i, s, off) for i, (s, off) in enumerate(chunks)]


def sentence_turns(spark: SparkSession, sentences) -> DataFrame:
    """``split_sentences`` output → one transcript turn per sentence."""
    return spark.createDataFrame(
        [("t0", i, "user", s, None, None) for i, s, _ in sentences],
        TRANSCRIPT_SCHEMA_DDL,
    )


def candidate_maps(rows) -> tuple[dict, dict, dict]:
    """Collected candidate rows → per-mention ``string_match_score``
    {variation: (score, sorted qids)}, ``cross_cand_score`` (best
    ``abs_relv`` per QID over the sum of all pairs', linking.py:259-262)
    and ``prior_cand_score`` (best per QID over the sum of the per-QID
    bests, the reference's REL-path prior, pipeline.py:288-324; ordered
    score desc, qid). A request has a few dozen rows: plain Python."""
    qids: dict = {}
    pairs: dict = {}
    for r in rows:
        key = (r["mention"], r["variation"], round(float(r["score"]), 3))
        qids.setdefault(key, set()).add(r["qid"])
        pairs.setdefault(r["mention"], []).append((r["qid"], float(r["abs_relv"])))
    match_map: dict = {}
    for (mention, variation, score), qs in qids.items():
        match_map.setdefault(mention, {})[variation] = (score, sorted(qs))
    cross_map: dict = {}
    prior_map: dict = {}
    for mention, scored in pairs.items():
        best: dict = {}
        for qid, s in scored:
            best[qid] = max(s, best.get(qid, s))
        total_all, total_max = math.fsum(s for _, s in scored), math.fsum(best.values())
        cross_map[mention] = {q: round(best[q] / total_all, 3) for q in sorted(best)}
        prior = {q: round(b / total_max, 3) for q, b in best.items()}
        prior_map[mention] = dict(sorted(prior.items(), key=lambda kv: (-kv[1], kv[0])))
    return match_map, cross_map, prior_map


def run_text(spark: SparkSession, text: str, aliases, entities=None) -> list[dict]:
    """One text → list of mention dicts in the reference's README
    shape: mention, ner_score, pos, sent_idx, end_pos, tag, sentence,
    prediction, ed_score, string_match_score, prior_cand_score,
    cross_cand_score, latlon, wkdt_class.

    Ranking is ``resolve()``'s default fuzzy method and 0.7 threshold,
    keeping the ``TOP_K`` best candidates per surface. Script-agnostic
    like the reference's model NER: ``resolve()``'s
    ``uncased_gazetteer`` extraction unions the cased rule tagger with
    the gazetteer-anchored uncased tagger over the alias KB, so a
    CJK/Arabic/Hebrew toponym in the KB is tagged and linked like a
    cased one. The candidates and linked mentions are collected once
    each, and the run is released on return. Off a ``local[*]`` master,
    ``resolve()`` needs ``spark.tres.scratchDir`` or a checkpoint dir."""
    from ..operators.linking import NIL

    sentences = split_sentences(text)
    res = resolve(
        spark,
        sentence_turns(spark, sentences),
        aliases,
        entities=entities,
        config=PipelineConfig(top_k=TOP_K, uncased_gazetteer=True),
    )
    try:
        match_map, cross_map, prior_map = candidate_maps(res.candidates.collect())
        linked = res.linked.collect()
    finally:
        res.unpersist()

    sent_text = {i: s for i, s, _ in sentences}
    out = []
    for r in sorted(linked, key=lambda r: (r["turn_idx"], r["start_char"])):
        d = {
            "mention": r["mention"],
            "ner_score": r["ner_score"],
            "pos": r["start_char"],
            "sent_idx": r["turn_idx"],
            "end_pos": r["end_char"],
            "tag": r["tag"],
            "sentence": sent_text.get(r["turn_idx"], ""),
            "prediction": r["prediction"],
            "ed_score": round(float(r["link_score"]), 3),
            "string_match_score": match_map.get(r["mention"], {}),
            "prior_cand_score": prior_map.get(r["mention"], {}),
            "cross_cand_score": cross_map.get(r["mention"], {}),
        }
        if entities is not None:
            d["latlon"] = (
                [r["lat"], r["lon"]]
                if r["prediction"] != NIL and r["lat"] is not None
                else None
            )
            d["wkdt_class"] = r["wkdt_class"]
        out.append(d)
    return out
