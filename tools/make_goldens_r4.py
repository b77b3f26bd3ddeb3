"""Generate the VALUES-table oracles for j4b / f4 / f5b (VERDICT r03 #4).

The three queries run REAL operators (find_candidates jarowinkler,
classify_ocr_variants, by_distance) over FIXED fixture inputs; their
expected outputs are computed here with the same Python kernels the
Spark UDFs call (functions/similarity.py) plus exact mirrors of the
native column math (halving, haversine, capped distance, HALF_UP
rounding a la Spark's BigDecimal.valueOf path). Paste the printed SQL
into __spark_entry__.oracle_sql. Re-run any time the fixtures change —
the fixtures themselves are imported from __spark_entry__ so the two
can't drift silently.

Float-exactness: repr(float) roundtrips through a DuckDB double
literal bit-exactly, and the Python kernels are the SAME code the
Arrow UDFs execute, so string/ratio scores match to the last bit.
Haversine goes through JVM libm on the Spark side — fixture
coordinates are chosen so every rounded-3dp score sits far (>1e-6)
from a rounding boundary, making 1-ulp libm differences immaterial.
"""

from __future__ import annotations

import math
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from t_res_spark.functions.similarity import (  # noqa: E402
    fuzz_ratio,
    jaro_winkler_similarity,
)
from t_res_spark.oracle import block_keys  # noqa: E402

import __spark_entry__ as entry  # noqa: E402


def spark_round(x: float, dp: int) -> float:
    """Spark round() on a double: BigDecimal.valueOf(x) (= shortest
    decimal repr) quantized HALF_UP — identical to Decimal(repr(x))."""
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # STRING → DOUBLE goes through strtod (correctly rounded, so
        # repr() roundtrips bit-exactly); a bare decimal literal would
        # be typed DECIMAL(17,16) first and the DECIMAL→DOUBLE
        # conversion can be one ulp off (observed on 0.9666…67)
        return f"CAST('{v!r}' AS DOUBLE)"
    return str(v)


def values_sql(rows: list[tuple], cols: list[str]) -> str:
    body = ",\n              ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
    )
    return (
        f"SELECT * FROM (VALUES\n              {body}\n"
        f"            ) AS t({', '.join(cols)})"
    )


# ---------------------------------------------------------------- j4b
def j4b_expected() -> list[tuple]:
    aliases = entry.J4B_ALIASES
    mentions = entry.J4B_MENTIONS
    alias_surfaces = sorted({a for a, _, _, _ in aliases})
    threshold, top_k = 0.85, 3

    matches: list[tuple[str, str, float]] = []
    for m in mentions:
        if m in alias_surfaces:
            matches.append((m, m, 1.0))
            continue
        mk = block_keys(m)
        cands = sorted(a for a in alias_surfaces if mk & block_keys(a))
        scored = [
            (a, float(jaro_winkler_similarity(m, a)))
            for a in cands
        ]
        scored = [(a, s) for a, s in scored if s >= threshold]
        scored.sort(key=lambda t: (-t[1], t[0]))
        matches.extend((m, a, s) for a, s in scored[:top_k])

    out = []
    for m, variation, score in matches:
        for alias, qid, relv, abs_relv in aliases:
            if alias == variation:
                out.append((m, variation, score, qid, relv, abs_relv))
    return sorted(out)


# ---------------------------------------------------------------- f4
def f4_expected() -> list[tuple]:
    pairs = entry.F4_PAIRS
    out = []
    thr = 50.0
    for word, nn, eng in pairs:
        hw, hn = int(len(word) / 2), int(len(nn) / 2)
        w1, w2 = word[:hw], word[hw:]
        n1, n2 = nn[:hn], nn[hn:]
        r1 = float(fuzz_ratio(n1, w1))
        r2 = float(fuzz_ratio(n2, w2))
        contained = (nn in word) or (word in nn)
        len_diff = len(word) - len(nn)
        if contained:
            label = "neutral"
        elif (not eng) and r1 > thr and r2 > thr:
            label = "positive"
        elif eng and r1 < 100 - thr and r2 < 100 - thr and -2 <= len_diff <= 2:
            label = "negative"
        else:
            label = "neutral"
        out.append((word, nn, eng, r1, r2, label))
    return out


# ---------------------------------------------------------------- f5b
def _hav(lat1, lon1, lat2, lon2) -> float:
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    h = math.sin(dlat / 2) ** 2 + math.cos(rlat1) * math.cos(rlat2) * (
        math.sin(dlon / 2) ** 2
    )
    return 2.0 * 6371.0088 * math.asin(math.sqrt(h))


def f5b_expected(cap_km: float = 1000.0) -> list[tuple]:
    coords = {q: (la, lo) for q, la, lo in entry.F5B_COORDS
              if abs(la) <= 90 and abs(lo) <= 180}
    origins = dict(entry.F5B_ORIGINS)
    rows = []
    by_mention: dict[str, list] = {}
    for mention, variation, score, qid, relv, abs_relv in entry.F5B_CANDS:
        if qid not in coords or mention not in origins:
            continue
        oq = origins[mention]
        if oq not in coords:
            continue
        d = _hav(coords[oq][0], coords[oq][1], coords[qid][0], coords[qid][1])
        by_mention.setdefault(mention, []).append(
            (d, qid, variation, score, relv)
        )
    for mention, cands in by_mention.items():
        cands.sort(key=lambda t: (t[0], t[1], t[2]))
        d, qid, variation, score, relv = cands[0]
        if d >= cap_km:
            continue
        cds = 1.0 if d == 0.0 else 1.0 - min(d, cap_km) / cap_km
        link = spark_round(((score + relv) / 2 + cds) / 2, 3)
        # boundary-distance audit (see module docstring)
        frac = abs((((score + relv) / 2 + cds) / 2) * 1000 % 1 - 0.5)
        assert frac > 1e-6, (mention, frac)
        rows.append((mention, qid, link))
    return sorted(rows)


# ---------------------------------------------------------------- ctx10
def ctx10_expected() -> list[tuple]:
    """Closed-form 10-loop coherence scores (see CTX10 fixture notes in
    __spark_entry__): s_10 = f + (p - f)/2^10, f = (p + c)/2, with c
    the (constant) coherence of each mention's dominant candidate.
    Dominance (max prior AND max f per mention) is asserted, which
    makes the closed form exact for every iteration count."""
    import numpy as np

    from t_res_spark.datagen import EMB_DIM, hashed_ngram_embedding

    def emb(qid: str) -> np.ndarray:
        # the Spark UDF declares array<float>: float32 precision, then
        # the loop re-reads as float64 — mirror both casts
        return np.asarray(
            np.asarray(hashed_ngram_embedding(qid, EMB_DIM), dtype=np.float32),
            dtype=np.float64,
        )

    # normalized prior per (mention, qid) — max(abs_relv) dedup + share
    per_mention: dict[str, list[tuple[str, float]]] = {}
    for mention, qid, _relv, abs_relv in entry.CTX10_CANDS:
        per_mention.setdefault(mention, []).append((qid, abs_relv))
    priors: dict[str, list[tuple[str, float]]] = {}
    for mention, lst in per_mention.items():
        dedup: dict[str, float] = {}
        for qid, ar in lst:
            dedup[qid] = max(dedup.get(qid, 0.0), ar)
        total = sum(dedup.values())
        priors[mention] = sorted(
            (qid, ar / total) for qid, ar in dedup.items()
        )

    origins = {c: (q, name) for c, q, name in entry.CTX10_ORIGINS}
    convs: dict[str, list[tuple[str, str]]] = {}
    for conv, mid, mention in entry.CTX10_MENTIONS:
        convs.setdefault(conv, []).append((mid, mention))
    out = []
    for conv in sorted(convs):
        rows = dict(convs[conv])
        pinned: dict[str, str] = {}
        if conv in origins:
            oq, oname = origins[conv]
            rows[f"{conv}:prior"] = oname
            pinned[f"{conv}:prior"] = oq
        mention_ids = sorted(rows)
        # dominant candidate per mention (pinned for anchors)
        best: dict[str, tuple[str, np.ndarray]] = {}
        for mid in mention_ids:
            cands = priors[rows[mid]]
            if mid in pinned:
                qid = pinned[mid]
            else:
                qid = max(cands, key=lambda t: t[1])[0]
            best[mid] = (qid, emb(qid))
        for mid in mention_ids:
            if mid in pinned:
                continue
            others = [best[m][1] for m in mention_ids if m != mid]
            ctx = np.mean(others, axis=0)
            n = np.linalg.norm(ctx)
            ctx = ctx / n if n > 0 else ctx
            cands = priors[rows[mid]]
            s10 = {}
            fs = {}
            for qid, p in cands:
                e = emb(qid)
                c = float(np.dot(e / max(np.linalg.norm(e), 1e-12), ctx))
                f = (p + c) / 2.0
                fs[qid] = f
                s10[qid] = f + (p - f) / 1024.0
            win_q, win_p = max(cands, key=lambda t: t[1])
            # dominance: max prior AND max fixed point, strictly
            for qid, p in cands:
                if qid != win_q:
                    assert win_p > p + 1e-9, (mid, qid)
                    assert fs[win_q] > fs[qid] + 1e-9, (mid, qid)
            val = s10[win_q]
            # stay away from the 3dp rounding boundary
            assert abs(val * 1000 % 1 - 0.5) > 1e-6, (mid, val)
            out.append((conv, mid, rows[mid], win_q, round(val, 3)))
    return sorted(out)


# ---------------------------------------------------------------- d3/d3b
def _simhash_py(text: str, bits: int = 64) -> int:
    """Signed 64-bit SimHash — exact mirror of operators/dedup.simhash:
    distinct whitespace tokens of lower(trim(text)), xxhash64 (python
    from-spec twin), per-bit ±1 votes, bit set iff votes > 0."""
    import re as _re

    from t_res_spark.functions.xxh64 import to_signed, xxh64_str

    toks = list(dict.fromkeys(_re.split(r"\s+", text.strip().lower())))
    hs = [xxh64_str(t) for t in toks]
    fp = 0
    for i in range(bits):
        votes = sum(1 if ((h >> i) & 1) == 1 else -1 for h in hs)
        if votes > 0:
            fp |= 1 << i
    return to_signed(fp)


def d3_expected() -> list[tuple]:
    return sorted((doc_id, _simhash_py(text)) for doc_id, text in entry.D3_DOCS)


def d3b_expected(max_hamming: int = 3, bands: int = 4,
                 bucket_cap: int = 50) -> list[tuple]:
    fps = {doc_id: _simhash_py(text) for doc_id, text in entry.D3_DOCS}
    seg_w = 64 // bands
    mask = (1 << seg_w) - 1
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, fp in fps.items():
        u = fp & ((1 << 64) - 1)  # shiftrightunsigned view
        for r in range(bands):
            buckets.setdefault((r, (u >> (seg_w * r)) & mask), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        if 1 < len(ids) <= bucket_cap:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    pairs.add((a, b))
    out = []
    for a, b in pairs:
        ham = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return sorted(out)


# ---------------------------------------------------------------- ann
def ann_lsh_oracle_sql(**kw) -> str:
    """Delegates to __spark_entry__._ann_lsh_oracle_sql — single source
    of truth; kept here so the generator prints the full oracle set."""
    return entry._ann_lsh_oracle_sql(**kw)


def ann_ivf_oracle_sql(**kw) -> str:
    return entry._ann_ivf_oracle_sql(**kw)


def typed_values_sql(rows, cols, casts) -> str:
    """VALUES wrapped in an outer SELECT with explicit column casts so
    DuckDB's literal-type inference (INTEGER for small ints) cannot
    diverge from Spark's column types."""
    inner = values_sql(rows, cols)
    sel = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, casts))
    return f"SELECT {sel} FROM (\n            {inner}\n            )"


if __name__ == "__main__":
    print("-- j4b_jarowinkler oracle:")
    print(values_sql(
        j4b_expected(),
        ["mention", "variation", "score", "qid", "relv", "abs_relv"],
    ))
    print("\n-- f4_ocr_variants oracle:")
    print(values_sql(
        f4_expected(),
        ["word", "nn_word", "nn_is_english", "r1", "r2", "label"],
    ))
    print("\n-- f5b_bydistance_op oracle:")
    print(values_sql(f5b_expected(), ["mention", "prediction", "link_score"]))
    print("\n-- ctx10_fixpoint oracle:")
    print(values_sql(
        ctx10_expected(),
        ["conv_id", "mention_id", "mention", "prediction", "link_score"],
    ))
    print("\n-- d3_simhash oracle:")
    print(typed_values_sql(
        d3_expected(), ["doc_id", "simhash"], ["BIGINT", "BIGINT"]
    ))
    print("\n-- d3b_simhash_pairs oracle:")
    print(typed_values_sql(
        d3b_expected(), ["a", "b", "hamming"], ["BIGINT", "BIGINT", "INTEGER"]
    ))
    print("\n-- ann_lsh_topk oracle:")
    print(ann_lsh_oracle_sql())
    print("\n-- ann_ivf_topk oracle:")
    print(ann_ivf_oracle_sql())
