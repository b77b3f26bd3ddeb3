"""String- and geo-similarity kernels.

Pure-Python pair kernels (each wrapped once as an Arrow-batched pandas
UDF by ``operators.ranking._pair_udf`` — never a row-at-a-time Python
UDF) plus native Spark column expressions for everything Catalyst can
codegen.

Reference parity:
- normalized Damerau-Levenshtein similarity:
  /root/reference/geoparser/ranking.py:327-361 (``damlev_dist``,
  1 - normalized OSA distance, lowercased inputs); golden value
  sim("Lvndon","London") == 0.8333... (/root/reference/tests/test_ranking.py:55-57).
- containment score: /root/reference/geoparser/ranking.py:363-397
  (``check_if_contained``); golden sim("New York","New York City") ==
  8/13 (/root/reference/tests/test_ranking.py:77-80).
- haversine with 1000 km cap + invalid-coordinate guard:
  /root/reference/geoparser/linking.py:301-330.

Two Damerau-Levenshtein variants live here and they are NOT
interchangeable: DuckDB's ``damerau_levenshtein`` implements the
UNRESTRICTED variant (``dl_distance``/``dl_similarity`` — what the
oracle-gated q_j3 uses; damerau_levenshtein('ca','abc') == 2), while
pyxdameraulevenshtein — the reference's library — implements the
restricted OSA variant (``osa_distance``/``damlev_similarity``, the
ranking methods' kernel; OSA('ca','abc') == 3). They differ only on
transposition-adjacent inputs, but swapping OSA into an oracle-gated
query WILL break the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# pair kernels (wrapped by operators.ranking._pair_udf)
# ---------------------------------------------------------------------------


def osa_distance(s1: str, s2: str) -> int:
    """Optimal-string-alignment (restricted Damerau-Levenshtein) distance."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0:
        return l2
    if l2 == 0:
        return l1
    prev2: list[int] | None = None
    prev = list(range(l2 + 1))
    for i in range(1, l1 + 1):
        cur = [i] + [0] * l2
        c1 = s1[i - 1]
        for j in range(1, l2 + 1):
            cost = 0 if c1 == s2[j - 1] else 1
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and c1 == s2[j - 2] and s1[i - 2] == s2[j - 1]:
                t = prev2[j - 2] + 1
                if t < d:
                    d = t
            cur[j] = d
        prev2, prev = prev, cur
    return prev[l2]


def dl_distance(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (with the alphabet
    table), exactly matching DuckDB's ``damerau_levenshtein`` — used by
    the oracle-gated fuzzy-join query. The reference's library
    (pyxdameraulevenshtein) is the restricted OSA variant above; the two
    differ only on pathological inputs (e.g. "CA"/"ABC")."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0:
        return l2
    if l2 == 0:
        return l1
    inf = l1 + l2
    da: dict[str, int] = {}
    # (l1+2) x (l2+2) matrix, 1-indexed strings
    d = [[0] * (l2 + 2) for _ in range(l1 + 2)]
    d[0][0] = inf
    for i in range(0, l1 + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(0, l2 + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, l1 + 1):
        db = 0
        for j in range(1, l2 + 1):
            i1 = da.get(s2[j - 1], 0)
            j1 = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[s1[i - 1]] = i
    return d[l1 + 1][l2 + 1]


def dl_similarity(s1: str, s2: str) -> float:
    """1 - DL(lower(s1), lower(s2)) / max(len); DuckDB-exact."""
    a, b = s1.lower(), s2.lower()
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    return 1.0 - dl_distance(a, b) / m


def damlev_similarity(s1: str, s2: str) -> float:
    """1 - OSA(s1.lower(), s2.lower()) / max(len) — the reference's
    ``damlev_dist`` (/root/reference/geoparser/ranking.py:358-361)."""
    a, b = s1.lower(), s2.lower()
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    return 1.0 - osa_distance(a, b) / m


def jaro_similarity(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    match_window = max(l1, l2) // 2 - 1
    if match_window < 0:
        match_window = 0
    f1 = [False] * l1
    f2 = [False] * l2
    matches = 0
    for i in range(l1):
        lo = max(0, i - match_window)
        hi = min(l2, i + match_window + 1)
        for j in range(lo, hi):
            if not f2[j] and s1[i] == s2[j]:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    k = 0
    transpositions = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions / 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3


def jaro_winkler_similarity(
    s1: str, s2: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7
) -> float:
    """Jaro-Winkler with the standard 0.7 boost threshold — semantics of
    DuckDB's ``jaro_winkler_similarity`` (our oracle) and of the
    Jaro-Winkler option named by the north star."""
    jaro = jaro_similarity(s1, s2)
    if jaro <= boost_threshold:
        return jaro
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix == 4:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def _lcs_length(s1: str, s2: str) -> int:
    """Longest-common-subsequence length (rolling 1-row DP)."""
    if not s1 or not s2:
        return 0
    prev = [0] * (len(s2) + 1)
    for c1 in s1:
        cur = [0] * (len(s2) + 1)
        for j, c2 in enumerate(s2, 1):
            cur[j] = prev[j - 1] + 1 if c1 == c2 else max(prev[j], cur[j - 1])
        prev = cur
    return prev[-1]


def fuzz_ratio(s1: str, s2: str) -> float:
    """F4 — ``fuzz.ratio`` on the 0-100 scale: the Indel-normalized
    similarity ``100 * 2*LCS / (len1+len2)`` (exact rational — identical
    in every correct implementation, unlike Jaro-Winkler's variants).
    The reference thresholds this to classify OCR variants
    (/root/reference/utils/deezy_processing.py:68-83)."""
    if not s1 and not s2:
        return 100.0
    return 100.0 * (2 * _lcs_length(s1, s2)) / (len(s1) + len(s2))


# ---------------------------------------------------------------------------
# native column expressions (JVM-side, whole-stage-codegen friendly)
# ---------------------------------------------------------------------------


def containment_score(query: Column, alias: Column) -> Column:
    """Containment match score, else NULL (no containment).

    ``len(shorter)/len(longer)`` when one lowercased string contains the
    other — /root/reference/geoparser/ranking.py:385-397. NOTE: the
    reference computes the ratio on the ORIGINAL (non-lowercased) strings;
    lengths are identical either way, so a pure length ratio is exact.
    """
    q, a = F.lower(query), F.lower(alias)
    return (
        F.when(F.instr(a, q) > 0, F.length(query) / F.length(alias))
        .when(F.instr(q, a) > 0, F.length(alias) / F.length(query))
        .otherwise(F.lit(None).cast("double"))
    )


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (native column math — F5 in SURVEY §2.7).

    Mirrors the ``haversine`` package call at
    /root/reference/geoparser/linking.py:316 with mean Earth radius
    6371.0088 km. Invalid coordinates (the "candidate in Venus" guard,
    linking.py:316-318) are handled by the caller via NULL propagation
    instead of try/except.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin(dlon / 2), 2
    )
    return F.lit(2.0 * 6371.0088) * F.asin(F.sqrt(h))


def pem_clamp(p: Column) -> Column:
    """F7 — p(e|m) clamp ``min(1.0, max(1e-3, p))``
    (/root/reference/utils/REL/entity_disambiguation.py:873)."""
    return F.least(F.lit(1.0), F.greatest(F.lit(1e-3), p))


def log_prior(p: Column) -> Column:
    """F8 — ``log(p + 1e-20)`` prior transform
    (/root/reference/utils/REL/mulrel_ranker.py:228,326,434)."""
    return F.log(p + F.lit(1e-20))


def capped_distance_score(dist_km: Column, cap_km: float = 1000.0) -> Column:
    """The reference's GB distance-cap → score transform
    (/root/reference/geoparser/linking.py:320-330):
    0 km → 1.0; else 1 - min(dist, cap)/cap."""
    return F.when(dist_km == 0.0, F.lit(1.0)).otherwise(
        1.0 - F.least(dist_km, F.lit(cap_km)) / F.lit(cap_km)
    )
