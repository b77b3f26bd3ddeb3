"""Deterministic synthetic fixtures (FIXTURES.md) — no external data.

Generates the entity-resolution input tables at a given scale, all
derived from a seeded ``random.Random`` and exact-binary-fraction
numerics (k/1024) so aggregate results are bit-stable regardless of
partitioning / summation order:

    transcripts(conv_id, turn_idx, role, text, tool, ts)   [input_hint]
    aliases(alias, qid, relv, abs_relv)                    [ranking.py:202-247 analog]
    entities(qid, lat, lon, wkdt_class)                    [linking.py:163-181 analog]
    embeddings_kb(key, emb)                                [rel_utils.py:69-89 analog]
    labeled_pairs(block_key, mention_id_a, mention_id_b, same_entity)
    planted(conv_id, turn_idx, mention, start_char, end_char, alias, qid)

``planted`` is the generator's ground truth (which alias surface was
written where, resolving to which entity); ``expected_mentions`` of
FIXTURES.md §6 is its projection. Mentions planted from the ``NIL``
namespace exist in no knowledge base and must resolve to NIL
(linking.py:239 convention).

Everything is plain pandas + pyarrow (no Spark dependency) so the unit
-test oracle can run without a session.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .functions.text import phonetic_key_str

EMB_DIM = 32
ENTITY_PREFIX = "ENTITY/"  # rel_utils.py:73-78 namespace analog
UNK_KEY = "#UNK#"  # entity_disambiguation.py:179-194

_SYL_A = ["Tar", "Bel", "Dor", "Fen", "Gal", "Hol", "Kir", "Lan", "Mar", "Nor",
          "Pel", "Quin", "Ros", "Sel", "Thorn", "Ul", "Ver", "Wex", "Yar", "Bram"]
_SYL_B = ["vik", "ford", "mouth", "by", "ton", "ham", "wick", "field", "dale",
          "bury", "ster", "port", "gate", "holm", "combe", "leigh", "worth",
          "den", "mere", "stow"]
_SYL_C = ["", "", "", "", "shire", "sea", "water", "moor", "wood", "crag"]

_FILLERS = ("the report was filed from a small office near the river and "
            "nothing unusual happened that day except some light rain over "
            "local fields while traders kept moving goods between towns and "
            "markets stayed busy until evening bells rang out across quiet "
            "streets").split()

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "lookup", "geocode", "none"]
_CLASSES = ["Q515", "Q6256", "Q486972", "Q3957", "Q23442"]  # city/country/settlement/town/island

_VOWELS = "aeiou"


def _canonical_name(rng: random.Random, i: int) -> str:
    """Deterministic proper-noun-shaped place name; some multi-token,
    hyphenated, and 'of'-nested forms (FIXTURES.md §1 requirements)."""
    base = rng.choice(_SYL_A) + rng.choice(_SYL_B) + rng.choice(_SYL_C)
    style = i % 10
    if style == 7:
        return f"New {base}"
    if style == 8:
        other = rng.choice(_SYL_A) + rng.choice(_SYL_B)
        return f"{base}-under-{other}"
    if style == 9:
        other = rng.choice(_SYL_A) + rng.choice(_SYL_B)
        return f"Isle of {base}"
    return base


def _corrupt(rng: random.Random, name: str) -> str:
    """OCR-style corruption preserving proper-noun shape: only touches
    lowercase positions >= 2 of one word (the 'Shefiield' pattern of the
    reference golden sentence, tests/test_pipeline.py:68-71)."""
    words = name.split(" ")
    # pick the longest word to corrupt (stable under ties: first)
    wi = max(range(len(words)), key=lambda k: len(words[k]))
    w = words[wi]
    if len(w) < 4:
        return name
    op = rng.randrange(4)
    pos = rng.randrange(2, len(w) - 1)
    if op == 0:  # duplicate char ("Shefiield")
        w2 = w[:pos] + w[pos] + w[pos:]
    elif op == 1:  # swap adjacent
        w2 = w[:pos] + w[pos + 1] + w[pos] + w[pos + 2:]
    elif op == 2:  # drop char
        w2 = w[:pos] + w[pos + 1:]
    else:  # vowel substitution ("Lvndon" pattern)
        sub = rng.choice("aeiouv")
        w2 = w[:pos] + sub + w[pos + 1:]
    if w2 == w or w2.lower() == w2:
        return name
    words[wi] = w2
    return " ".join(words)


def hashed_ngram_embedding(key: str, dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic char-trigram hashed embedding (float32, unit-ish).

    Replaces the reference's DeezyMatch GRU string encoder
    (/root/reference/utils/deezy_processing.py:316-443) with a
    data-independent feature hash: md5(trigram) picks (index, sign).
    Similar strings share trigrams → high cosine; corruptions perturb a
    few trigrams → still close. Zero model weights, fully reproducible
    on any cluster."""
    v = np.zeros(dim, dtype=np.float64)
    s = f"^{key.lower()}$"
    for i in range(len(s) - 2):
        tri = s[i : i + 3]
        h = hashlib.md5(tri.encode("utf-8")).digest()
        idx = h[0] % dim
        sign = 1.0 if h[1] % 2 == 0 else -1.0
        v[idx] += sign
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


@dataclass
class FixtureSet:
    transcripts: pd.DataFrame
    aliases: pd.DataFrame
    entities: pd.DataFrame
    embeddings_kb: pd.DataFrame
    planted: pd.DataFrame
    labeled_pairs: pd.DataFrame
    params: dict = field(default_factory=dict)


def generate(
    n_entities: int = 60,
    n_convs: int = 10,
    turns_per_conv: int = 8,
    seed: int = 42,
    unseen_corruption_rate: float = 0.05,
    nil_rate: float = 0.04,
    hot_alias_share: float = 0.15,
) -> FixtureSet:
    rng = random.Random(seed)

    # --- entities ---------------------------------------------------------
    names: list[str] = []
    seen = set()
    while len(names) < n_entities:
        nm = _canonical_name(rng, len(names))
        if nm.lower() not in seen:
            seen.add(nm.lower())
            names.append(nm)
    ents = pd.DataFrame(
        {
            "qid": [f"E{i:05d}" for i in range(n_entities)],
            "lat": [((i * 37) % 140 - 70) + (i % 8) / 16.0 for i in range(n_entities)],
            "lon": [((i * 53) % 360 - 180) + (i % 16) / 32.0 for i in range(n_entities)],
            "wkdt_class": [_CLASSES[i % len(_CLASSES)] for i in range(n_entities)],
        }
    )
    # the "candidate in Venus" guard row (linking.py:316-318): invalid coords
    ents.loc[n_entities - 1, "lat"] = 200.0
    ents.loc[n_entities - 1, "lon"] = 400.0

    # --- aliases ----------------------------------------------------------
    # canonical + known corruptions; one shared hot alias ("London" problem,
    # Zipfian: asserted hot in the reference, pipeline.py:139)
    rows: list[tuple[str, str, float, float]] = []
    alias_of_entity: dict[str, list[str]] = {}
    hot_alias = "Avalon"
    n_hot = max(3, int(n_entities * hot_alias_share))
    for i, (qid, name) in enumerate(zip(ents["qid"], names)):
        variants = {name}
        # known OCR variants in the KB (perfect-match reachable)
        for _ in range(2):
            variants.add(_corrupt(rng, name))
        al_list = sorted(variants)
        alias_of_entity[qid] = al_list
        for v in al_list:
            # exact binary fractions; canonical gets the highest relevance
            base = 896 if v == name else 256 + (rng.randrange(0, 256))
            relv = base / 1024.0
            abs_relv = float(base * (1 + i % 7) * 16)
            rows.append((v, qid, relv, abs_relv))
        if i < n_hot:  # hot shared alias → skew on its blocking key
            base = 64 + 8 * i
            rows.append((hot_alias, qid, base / 1024.0, float(base * 32)))
    # noisy alias rows that the load-time filter must drop
    # (ranking.py:221-227)
    rows.append(("Tarvik, Fenby", "E00000", 0.5, 512.0))
    rows.append(("Dorford (historic)", "E00001", 0.5, 512.0))
    aliases = pd.DataFrame(rows, columns=["alias", "qid", "relv", "abs_relv"])

    # --- embeddings -------------------------------------------------------
    emb_rows = []
    for a in sorted(set(aliases["alias"])):
        emb_rows.append((a, hashed_ngram_embedding(a)))
    for qid, name in zip(ents["qid"], names):
        emb_rows.append((ENTITY_PREFIX + qid, hashed_ngram_embedding(name)))
    emb_rows.append((UNK_KEY, np.zeros(EMB_DIM, dtype=np.float32)))
    embeddings_kb = pd.DataFrame(emb_rows, columns=["key", "emb"])

    # --- transcripts + planted ground truth --------------------------------
    clean_aliases = aliases[
        ~aliases["alias"].str.contains(", ", regex=False)
        & ~aliases["alias"].str.contains(" (", regex=False)
    ]
    by_qid = {q: g["alias"].tolist() for q, g in clean_aliases.groupby("qid")}
    # most-popular resolution per exact alias (argmax abs_relv, qid asc
    # tie-break — linking.most_popular semantics): the *achievable* ground
    # truth for ambiguous surfaces. A context-free most-popular linker (the
    # reference's mostpopular method, linking.py:216-264) resolves every
    # instance of a shared alias to the same entity; planted truth mirrors
    # that, so pairwise F1 measures pipeline fidelity, not the inherent
    # ambiguity of hot aliases.
    alias_mp = (
        clean_aliases.sort_values(["alias", "abs_relv", "qid"],
                                  ascending=[True, False, True])
        .groupby("alias")
        .first()["qid"]
        .to_dict()
    )
    qids = ents["qid"].tolist()
    # Zipf-ish entity popularity
    weights = [1.0 / (r + 1) for r in range(len(qids))]

    t_rows = []
    p_rows = []
    base_ts = 1_700_000_000  # fixed epoch, deterministic
    for c in range(n_convs):
        conv_id = f"conv{c:08d}"
        for t in range(turns_per_conv):
            role = _ROLES[t % 3]
            tool = _TOOLS[t % 4] if role == "tool" else None
            ts = base_ts + c * 3600 + t * 60
            # edge-case turns at fixed slots (FIXTURES.md §1 invariants)
            if c % 7 == 3 and t == turns_per_conv - 1:
                text = rng.choice(["a", "", " • - ST G pOllO-P• FERRIS - • - , i "])
                t_rows.append((conv_id, t, role, text, tool, ts))
                continue
            n_mentions = rng.choice([0, 1, 1, 1, 2])
            words: list[str] = []
            # leading filler (lowercase => no sentence-cap false positive)
            for _ in range(rng.randrange(2, 6)):
                words.append(rng.choice(_FILLERS))
            mention_slots = []
            for _ in range(n_mentions):
                r = rng.random()
                if r < nil_rate:
                    surface, qid = f"Xq{rng.randrange(100):02d}zul", None
                else:
                    qid = rng.choices(qids, weights=weights, k=1)[0]
                    surface = rng.choice(by_qid[qid])
                    if rng.random() < unseen_corruption_rate:
                        surface = _corrupt(rng, surface)
                    if surface in alias_mp:
                        # exact KB surface → achievable truth is its
                        # most-popular resolution (see alias_mp above)
                        qid = alias_mp[surface]
                start = len(" ".join(words)) + (1 if words else 0)
                words.append(surface)
                mention_slots.append((surface, start, start + len(surface), qid))
                for _ in range(rng.randrange(2, 6)):
                    words.append(rng.choice(_FILLERS))
            text = " ".join(words)
            t_rows.append((conv_id, t, role, text, tool, ts))
            for surface, s, e, qid in mention_slots:
                assert text[s:e] == surface
                p_rows.append((conv_id, t, surface, s, e, qid))

    transcripts = pd.DataFrame(
        t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    # microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS)
    transcripts["ts"] = pd.to_datetime(transcripts["ts"], unit="s").astype(
        "datetime64[us]"
    )
    planted = pd.DataFrame(
        p_rows, columns=["conv_id", "turn_idx", "mention", "start_char", "end_char", "qid"]
    )
    planted["turn_idx"] = planted["turn_idx"].astype("int32")
    planted["mention_id"] = (
        planted["conv_id"]
        + ":" + planted["turn_idx"].astype(str)
        + ":" + planted["start_char"].astype(str)
    )

    # --- labeled pairs (FIXTURES.md §5) ------------------------------------
    # within-block pairs, blocked on the phonetic key
    pm = planted.copy()
    pm["block_key"] = pm["mention"].map(phonetic_key_str)
    pair_rows = []
    for bk, grp in pm.groupby("block_key"):
        ids = grp[["mention_id", "qid"]].values.tolist()
        if len(ids) < 2:
            continue
        rng2 = random.Random(seed ^ hash_stable(bk))
        # sample up to 30 pairs per block to bound size
        all_pairs = [(ids[i], ids[j]) for i in range(len(ids)) for j in range(i + 1, len(ids))]
        rng2.shuffle(all_pairs)
        for (ida, qa), (idb, qb) in all_pairs[:30]:
            same = (qa is not None) and (qb is not None) and qa == qb
            pair_rows.append((bk, ida, idb, bool(same)))
    labeled_pairs = pd.DataFrame(
        pair_rows, columns=["block_key", "mention_id_a", "mention_id_b", "same_entity"]
    )

    return FixtureSet(
        transcripts=transcripts,
        aliases=aliases,
        entities=ents,
        embeddings_kb=embeddings_kb,
        planted=planted,
        labeled_pairs=labeled_pairs,
        params={
            "n_entities": n_entities,
            "n_convs": n_convs,
            "turns_per_conv": turns_per_conv,
            "seed": seed,
        },
    )


def hash_stable(s: str) -> int:
    """Stable string hash (builtin hash() is salted per-process)."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def write_fixture_parquet(fx: FixtureSet, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    fx.transcripts.to_parquet(f"{out_dir}/transcripts.parquet", index=False)
    fx.aliases.to_parquet(f"{out_dir}/aliases.parquet", index=False)
    fx.entities.to_parquet(f"{out_dir}/entities.parquet", index=False)
    emb = fx.embeddings_kb.copy()
    emb["emb"] = emb["emb"].map(lambda a: np.asarray(a, dtype=np.float32))
    emb.to_parquet(f"{out_dir}/embeddings_kb.parquet", index=False)
    fx.planted.to_parquet(f"{out_dir}/planted.parquet", index=False)
    fx.labeled_pairs.to_parquet(f"{out_dir}/labeled_pairs.parquet", index=False)


SCALES = {
    "tiny": dict(n_entities=60, n_convs=12, turns_per_conv=8),
    "small": dict(n_entities=300, n_convs=1000, turns_per_conv=8),
}


def ensure_fixture(scale: str, root: str = "data", seed: int = 42) -> str:
    """Generate-if-missing; cached on disk. Deterministic per (scale, seed)."""
    out_dir = os.path.join(root, scale)
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return out_dir
    fx = generate(seed=seed, **SCALES[scale])
    write_fixture_parquet(fx, out_dir)
    with open(marker, "w") as f:
        f.write(f"seed={seed}\n")
    return out_dir
