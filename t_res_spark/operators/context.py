"""Context-coherent disambiguation — the REL/MulRelRanker analog.

The reference disambiguates with a neural coherence model per document:
PreRank (context·entity dot products, topk —
/root/reference/utils/REL/mulrel_ranker.py:7-65) feeding MulRelRanker
(local attention + multi-relational scores + a loopy-belief-propagation
loop with n_loops=10, damping 0.5 —
/root/reference/utils/REL/mulrel_ranker.py:118-443), batched one
document at a time (/root/reference/utils/REL/entity_disambiguation.py:222,507).

This engine re-expresses the same *shape* deterministically:
``groupBy(conv_id).applyInPandas`` — conversation = group = minibatch,
exactly the reference's batching — running a damped iterative coherence
loop over candidate embeddings (hashed n-gram vectors instead of model
weights). Each iteration rescores every candidate as

    score = (1-df) * score + df * (prior + coherence)/2,
    coherence = cosine(candidate_emb, mean of other mentions'
                       current-best candidate embeddings)

for n_loops iterations (df=0.5, n_loops=10 — the reference's constants,
mulrel_ranker.py:403-421). The per-conversation prior row
("publication" trick, /root/reference/utils/rel_utils.py:234-275 /
geoparser/pipeline.py:253-269 — U4) is appended as an already-resolved
anchor mention and removed from the output after scoring.

Python appears only inside the Arrow-batched group function (numpy
matrix ops per conversation) — never per-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.embedding import EMB_DIM, embed_udf
from ..functions.shuffle import pinned_repartition

N_LOOPS = 10  # mulrel_ranker.py:403 (n_loops)
DAMPING = 0.5  # mulrel_ranker.py:421 (df)
ATT_TOP_N = 25  # tok_top_n (entity_disambiguation.py:140; W5 analog)

CONTEXT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("mention", T.StringType(), False),
        T.StructField("prediction", T.StringType(), False),
        T.StructField("link_score", T.DoubleType(), False),
    ]
)


def with_conversation_prior(
    mentions: DataFrame, origins: DataFrame
) -> DataFrame:
    """U4 — append one artificial already-resolved mention per
    conversation (the 'place of publication' anchor). ``origins`` is
    (conv_id, origin_qid, origin_name). Anchor rows carry
    is_prior=true and are filtered out after scoring."""
    anchors = origins.select(
        "conv_id",
        F.lit(-1).cast("int").alias("turn_idx"),
        F.concat(F.col("conv_id"), F.lit(":prior")).alias("mention_id"),
        F.col("origin_name").alias("mention"),
        F.lit(0).alias("start_char"),
        F.length("origin_name").alias("end_char"),
        F.lit(1.0).alias("ner_score"),
        F.lit("LOC").alias("tag"),
        F.col("origin_qid").alias("prior_qid"),
        F.lit(True).alias("is_prior"),
    )
    return mentions.withColumn(
        "prior_qid", F.lit(None).cast("string")
    ).withColumn("is_prior", F.lit(False)).unionByName(anchors)


def _qkey(s: np.ndarray) -> np.ndarray:
    """Quantized argmax key: half-up 1e-9 cells (scores are
    non-negative). The coherence recursion produces structurally EXACT
    rational ties — e.g. prior 2/3 vs 1/3 against coherence 1/3 vs 2/3
    both update to exactly 0.5 — where the two engines' (and two
    runs') non-associative float sums land a few ulp apart, flipping a
    raw argmax either way. Quantizing collapses sub-1e-9 noise into
    the same cell so the tie-break is the deterministic candidate
    order (qid ascending — the lists are qid-sorted), which the DuckDB
    oracle mirrors as ORDER BY floor(s*1e9 + 0.5) DESC, qid ASC.
    Genuine margins are far coarser (the sf0.1 audit's smallest
    non-tie argmax margin is > 1e-6), so no real decision moves."""
    return np.floor(s * 1e9 + 0.5)


def _conv_coherence(
    pdf: pd.DataFrame, n_loops: int = N_LOOPS, round_dp: int | None = 3
) -> pd.DataFrame:
    """Per-conversation damped coherence loop (runs inside Arrow batch).

    Input rows: one per (mention_id, qid) candidate with columns
    conv_id, mention_id, mention, qid, prior (normalized popularity),
    emb (candidate embedding list), is_prior, prior_qid.

    ``n_loops=0`` degenerates to argmax(prior) with pinned anchors —
    the DuckDB-expressible slice the ctx0_prior_argmax gate query
    checks value-exact (reference math: rel_utils.py:180-231);
    ``round_dp=None`` keeps raw doubles for bit-stable comparison."""
    out_rows = []
    if len(pdf) == 0:
        return pd.DataFrame(
            [],
            columns=["conv_id", "mention_id", "mention", "prediction", "link_score"],
        )
    # ONE stable global sort + numpy boundary slicing, not a
    # per-conversation ``sort_values``/``groupby``: pandas group
    # machinery costs ~2 ms per (tiny) conversation, which at 18k
    # conversations per batch is half the kernel's wall time before a
    # single loop iteration runs (measured 38 s single-core at sf1.0
    # with n_loops=0). Sorting by (conv_id, mention_id, qid) stably
    # yields the same per-conversation row order a per-group sort
    # would, so the candidate lists — and every float that follows —
    # are identical.
    pdf_s = pdf.sort_values(["conv_id", "mention_id", "qid"], kind="stable")
    conv_a = pdf_s["conv_id"].to_numpy()
    mid_a = pdf_s["mention_id"].to_numpy()
    qid_a = pdf_s["qid"].to_numpy()
    prior_a = pdf_s["prior"].to_numpy(dtype=np.float64)
    emb_a = pdf_s["emb"].to_numpy()
    mention_a = pdf_s["mention"].to_numpy()
    isp_a = pdf_s["is_prior"].to_numpy()
    pq_a = pdf_s["prior_qid"].to_numpy()
    n_rows = len(pdf_s)
    conv_starts = np.flatnonzero(np.r_[True, conv_a[1:] != conv_a[:-1]])
    conv_ends = np.r_[conv_starts[1:], n_rows]
    for cs, ce in zip(conv_starts, conv_ends):
        conv_id = conv_a[cs]
        # per-mention candidate lists from the sorted slice (rows for a
        # mention are contiguous and qid-ascending by the global sort)
        cand: dict[str, list[tuple[str, float, np.ndarray]]] = {}
        mention_of: dict[str, str] = {}
        pinned: dict[str, str] = {}
        i = cs
        while i < ce:
            mid = mid_a[i]
            j = i
            lst = []
            while j < ce and mid_a[j] == mid:
                lst.append(
                    (qid_a[j], float(prior_a[j]), np.asarray(emb_a[j], dtype=np.float64))
                )
                if isp_a[j] and isinstance(pq_a[j], str):
                    pinned[mid] = pq_a[j]
                j += 1
            cand[mid] = lst
            mention_of[mid] = mention_a[i]
            i = j
        mention_ids = sorted(cand)
        scores = {
            mid: np.array([p for _, p, _ in cands], dtype=np.float64)
            for mid, cands in cand.items()
        }
        # every loop-invariant quantity is computed once, outside the
        # n_loops iteration (pure caching: the same numpy expressions on
        # the same inputs, so every score double is bit-identical):
        # per-candidate unit embeddings (normalization would otherwise
        # dominate the inner loop), the prior vectors, and the
        # pinned-anchor candidate index.
        unit = {
            mid: [e / max(np.linalg.norm(e), 1e-12) for _, _, e in cands]
            for mid, cands in cand.items()
        }
        priors = {
            mid: np.array([p for _, p, _ in cands])
            for mid, cands in cand.items()
        }
        pinned_idx = {
            mid: next(
                (i for i, (q, _, _) in enumerate(cand[mid]) if q == pinned[mid]), 0
            )
            for mid in pinned
            if mid in cand
        }
        others_ids = {
            mid: [m for m in mention_ids if m != mid] for mid in mention_ids
        }
        for _ in range(n_loops):
            # current best embedding per mention (pinned anchors fixed)
            best_emb = {}
            best_unit = {}
            for mid, cands in cand.items():
                if mid in pinned:
                    idx = pinned_idx[mid]
                else:
                    idx = int(np.argmax(_qkey(scores[mid])))
                best_emb[mid] = cands[idx][2]
                best_unit[mid] = unit[mid][idx]
            new_scores = {}
            for mid, cands in cand.items():
                others = others_ids[mid]
                if len(others) > ATT_TOP_N:
                    # W5 — local-attention analog (mulrel_ranker.py:7-65
                    # top-n attention): only the ATT_TOP_N context
                    # embeddings most similar to this mention's current
                    # best candidate contribute to its coherence, so the
                    # per-iteration cost is bounded on conversations
                    # with hundreds of mentions.
                    own_n = best_unit[mid]
                    sims = np.array(
                        [float(np.dot(best_unit[m], own_n)) for m in others]
                    )
                    keep = np.argsort(-sims, kind="stable")[:ATT_TOP_N]
                    other_embs = [best_emb[others[i]] for i in sorted(keep)]
                else:
                    other_embs = [best_emb[m] for m in others]
                if other_embs:
                    ctx = np.mean(other_embs, axis=0)
                    n = np.linalg.norm(ctx)
                    ctx = ctx / n if n > 0 else ctx
                else:
                    ctx = np.zeros(EMB_DIM)
                coher = np.array(
                    [float(np.dot(u, ctx)) for u in unit[mid]]
                )
                new_scores[mid] = (1 - DAMPING) * scores[mid] + DAMPING * (
                    priors[mid] + coher
                ) / 2.0
            scores = new_scores
        for mid in mention_ids:
            cands = cand[mid]
            if mid in pinned:
                continue  # drop anchor rows from output (U4 pop)
            idx = int(np.argmax(_qkey(scores[mid])))
            final = float(scores[mid][idx])
            out_rows.append(
                (
                    conv_id,
                    mid,
                    mention_of[mid],
                    cands[idx][0],
                    round(final, round_dp) if round_dp is not None else final,
                )
            )
    return pd.DataFrame(
        out_rows,
        columns=["conv_id", "mention_id", "mention", "prediction", "link_score"],
    )


KEEP_CTX_ENT = 3  # entity_disambiguation.py:138 (keep_ctx_ent)
KEEP_P_E_M = 4  # entity_disambiguation.py:137 (keep_p_e_m)


def prerank_truncate(
    rows: DataFrame,
    keep_ctx_ent: int = KEEP_CTX_ENT,
    keep_p_e_m: int = KEEP_P_E_M,
) -> DataFrame:
    """W4/ML4 — the PreRank candidate truncation
    (/root/reference/utils/REL/entity_disambiguation.py:740-776,
    mulrel_ranker.py:7-65): before the expensive per-document model,
    keep only the top ``keep_ctx_ent`` candidates by context score ∪
    the top ``keep_p_e_m`` by prior (≤ 7 rows per mention — the
    reference fills to exactly 7 from the prior ordering; the union
    bound is the same and keeps this a pure two-window plan).

    Context score = cosine(candidate embedding, conversation context
    embedding), where the context embedding is the sum of the
    conversation's distinct mention-surface embeddings — the
    deterministic analog of PreRank's context-word · entity-embedding
    dot products. All native column math; this is what BOUNDS the
    applyInPandas group size on hot surfaces.

    Pinned anchor rows (is_prior, U4) always survive."""
    from .similarity_search import cosine

    # Embed DISTINCT surfaces, then attach per conversation: embedding
    # each (conv_id, mention) row would be O(corpus), and mention
    # surfaces repeat heavily across conversations (ranking.py:674's
    # distinct-before-score rationale), so embedding the
    # distinct-surface domain and joining back does the same work on
    # orders of magnitude fewer rows. Identical embeddings reach the
    # ctx fold, whose array_sort already makes the sum order canonical.
    surf = rows.select("mention").distinct().withColumn(
        "m_emb", embed_udf("mention")
    )
    ment = rows.select("conv_id", "mention").distinct().join(surf, "mention")
    # sort the collected (mention, emb) structs before the float fold:
    # collect_list order is partition-dependent and float addition is
    # not associative — an unordered sum would make near-tied rank_ctx
    # decisions nondeterministic across runs
    ctx = ment.groupBy("conv_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("mention", "m_emb"))),
            F.array_repeat(F.lit(0.0), EMB_DIM),
            lambda acc, t: F.zip_with(
                acc, t["m_emb"], lambda x, y: x + y.cast("double")
            ),
        ).alias("ctx_emb")
    )
    # explicit-N AQE-coalesce-exempt pin in front of the rank windows:
    # the joined frame is a few MB, so AQE collapses the window
    # exchange to ~1 partition and serializes the sort + downstream
    # Arrow work onto one core (measured on the sf0.1 disamb corpus:
    # 16.4 s → 3.1 s for the full query, byte-identical output). The
    # hash distribution on (conv_id, mention_id) satisfies both
    # windows' partitioning, so no second exchange is added.
    scored = pinned_repartition(
        rows.join(ctx, "conv_id"), "conv_id", "mention_id"
    ).withColumn("ctx_score", cosine(F.col("emb"), F.col("ctx_emb")))
    by_prior = Window.partitionBy("conv_id", "mention_id").orderBy(
        F.desc("prior"), F.asc("qid")
    )
    by_ctx = Window.partitionBy("conv_id", "mention_id").orderBy(
        F.desc("ctx_score"), F.asc("qid")
    )
    return (
        scored.withColumn("rank_prior", F.row_number().over(by_prior))
        .withColumn("rank_ctx", F.row_number().over(by_ctx))
        .filter(
            (F.col("rank_prior") <= keep_p_e_m)
            | (F.col("rank_ctx") <= keep_ctx_ent)
            | (F.col("is_prior") & (F.col("qid") == F.col("prior_qid")))
        )
        .drop("ctx_emb", "ctx_score", "rank_prior", "rank_ctx")
    )


def context_disambiguate(
    mentions: DataFrame,
    candidates: DataFrame,
    origins: DataFrame | None = None,
    prerank: bool = True,
    n_loops: int = N_LOOPS,
    round_dp: int | None = 3,
) -> DataFrame:
    """mentions(conv_id, mention_id, mention[, is_prior, prior_qid]) ×
    candidates(mention, qid, relv, abs_relv) → per-mention contextual
    predictions. One shuffle on conv_id; each group is one Arrow batch
    (the reference's document-minibatch boundary).

    ``n_loops=0`` reduces the model to prior-argmax (deterministic,
    SQL-expressible — the oracle-gated slice); the default 10-loop
    damped coherence is the MulRelRanker analog."""
    if origins is not None:
        mentions = with_conversation_prior(mentions, origins)
    if "is_prior" not in mentions.columns:
        mentions = mentions.withColumn("is_prior", F.lit(False)).withColumn(
            "prior_qid", F.lit(None).cast("string")
        )

    # normalized prior per (mention, qid): abs_relv / sum over mention
    w = Window.partitionBy("mention")
    # embed DISTINCT qids and join back (same rationale as the
    # prerank surface embed): candidate rows repeat qids across
    # mention surfaces, the entity embedding does not depend on the
    # surface.
    dedup = candidates.groupBy("mention", "qid").agg(
        F.max("abs_relv").alias("abs_relv")
    )
    qid_emb = dedup.select("qid").distinct().withColumn(
        "emb", embed_udf("qid")
    )
    priored = dedup.withColumn(
        "prior", F.col("abs_relv") / F.sum("abs_relv").over(w)
    ).join(qid_emb, "qid")
    rows = mentions.join(priored, "mention", "inner").select(
        "conv_id", "mention_id", "mention", "qid", "prior", "emb",
        "is_prior", "prior_qid",
    )
    if prerank:
        rows = prerank_truncate(rows)

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _conv_coherence(pdf, n_loops=n_loops, round_dp=round_dp)

    # Pin the group distribution with an EXPLICIT-N repartition: AQE's
    # explicit-N AQE-coalesce-exempt pin for the Arrow group stage —
    # rationale + measurements in functions.shuffle.pinned_repartition
    return (
        pinned_repartition(rows, "conv_id")
        .groupBy("conv_id")
        .applyInPandas(_fn, schema=CONTEXT_OUT_SCHEMA)
    )
