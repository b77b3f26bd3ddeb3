"""Single-process trusted oracle — the validation anchor.

Implements the exact scoring rules of the Spark pipeline in plain
pandas/Python (no Spark), the analog of validating against T-Res's own
pytest suite (BASELINE.json north_star). Golden-cluster fixtures and the
pairwise-F1 harness compare the distributed pipeline's output against
this oracle: any partitioning/shuffle/salting bug shows up as a cluster
mismatch.
"""

from __future__ import annotations

import pandas as pd

from .datagen import FixtureSet
from .functions.similarity import damlev_similarity
from .functions.text import block_keys
from .operators.extraction import extract_mentions_from_text


def resolve_oracle(
    fx: FixtureSet,
    threshold: float = 0.7,
    top_k: int = 3,
) -> pd.DataFrame:
    """Run the full pipeline single-process → (mention_id, mention,
    prediction, cluster_id). Mirrors plans.pipeline.resolve with the
    default config (fuzzy ranking + mostpopular linking)."""
    # stage 1 — extraction (shared kernel: identical by construction)
    rows = []
    for r in fx.transcripts.itertuples():
        for m, s, e in extract_mentions_from_text(r.text):
            rows.append(
                (r.conv_id, int(r.turn_idx), f"{r.conv_id}:{int(r.turn_idx)}:{s}", m)
            )
    mentions = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "mention_id", "mention"])

    # alias KB with load-time noise filter (ranking.py:216-247)
    al = fx.aliases
    al = al[
        ~al["alias"].str.contains(", ", regex=False)
        & ~al["alias"].str.contains(" (", regex=False)
    ]
    alias_set = set(al["alias"])
    blocks: dict[str, set[str]] = {}
    for a in alias_set:
        for k in block_keys(a):
            blocks.setdefault(k, set()).add(a)

    # stage 2+3 — candidate ranking per distinct surface
    surface_matches: dict[str, list[tuple[str, float]]] = {}
    for surf in sorted(set(mentions["mention"])):
        if surf in alias_set:
            surface_matches[surf] = [(surf, 1.0)]
            continue
        cands: set[str] = set()
        for k in block_keys(surf):
            cands |= blocks.get(k, set())
        scored = [
            (v, damlev_similarity(surf, v))
            for v in sorted(cands)
        ]
        scored = [(v, sc) for v, sc in scored if sc >= threshold]
        scored.sort(key=lambda t: (-t[1], t[0]))
        surface_matches[surf] = scored[:top_k]

    # stage 4 — most_popular over resolved candidates
    al_idx: dict[str, list[tuple[str, float]]] = {}
    for r in al.itertuples():
        al_idx.setdefault(r.alias, []).append((r.qid, r.abs_relv))
    predictions: dict[str, str] = {}
    for surf, matches in surface_matches.items():
        pairs = []  # (abs_relv, qid, variation)
        for variation, _score in matches:
            for qid, abs_relv in al_idx.get(variation, []):
                pairs.append((abs_relv, qid, variation))
        if not pairs:
            predictions[surf] = "NIL"
            continue
        # (abs_relv desc, qid asc, variation asc) — linking.most_popular
        pairs.sort(key=lambda t: (-t[0], t[1], t[2]))
        predictions[surf] = pairs[0][1]

    mentions["prediction"] = mentions["mention"].map(predictions)

    # stage 5 — clustering: prediction-space canonical labels
    # (clustering.py convention — the prediction itself absent extra
    # merge edges; NIL mentions label themselves)
    mentions["cluster_id"] = [
        p if p != "NIL" else mid
        for p, mid in zip(mentions["prediction"], mentions["mention_id"])
    ]
    return mentions


def pairwise_f1(
    clusters: pd.DataFrame, labeled_pairs: pd.DataFrame
) -> dict[str, float]:
    """Pairwise linkage F1 on labeled pairs at the same blocking key
    (BASELINE.json metric; A7 counting shape,
    /root/reference/utils/REL/entity_disambiguation.py:1074-1104)."""
    lab = dict(zip(clusters["mention_id"], clusters["cluster_id"]))
    tp = fp = fn = tn = 0
    for r in labeled_pairs.itertuples():
        ca, cb = lab.get(r.mention_id_a), lab.get(r.mention_id_b)
        pred_same = ca is not None and cb is not None and ca == cb
        if pred_same and r.same_entity:
            tp += 1
        elif pred_same and not r.same_entity:
            fp += 1
        elif not pred_same and r.same_entity:
            fn += 1
        else:
            tn += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision, "recall": recall, "f1": f1,
    }
