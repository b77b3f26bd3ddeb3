"""Stage 3 — candidate ranking (the reference's Ranker re-expressed).

Every method but ``perfectmatch`` is one program, ``_match``, the
reference's Ranker loop (ranking.py:399-469, :471-568) as a fuzzy join:
exact hits short-circuit at 1.0, the other surfaces are paired with the
alias space (one block key + salt), each pair scored once, cut per
surface and kept. Only the score and the cut vary:

- ``perfect_match`` (ranking.py:286-325): hash equi-join of distinct
  mention surfaces against the alias table; match score 1.0.
- ``partial_match`` containment (ranking.py:363-397): native `instr`
  length ratio; damlev (ranking.py:327-361): normalized OSA
  Damerau-Levenshtein. Both keep all ties at the best score via
  dense_rank (ranking.py:456-465 semantics).
- ``fuzzy`` / ``jarowinkler``: DL or Jaro-Winkler with a threshold and
  a deterministic (score desc, variation asc) top-k.
- ``embedding_match`` (ranking.py:471-568): the DeezyMatch GRU + faiss
  ANN stage becomes hashed char-n-gram embeddings + native column-math
  cosine (unit vectors, so dot == cosine), threshold + top-k.

String scores come from the pure-Python kernels in
``functions.similarity``, each wrapped once by ``_pair_udf`` as an
Arrow-batched pandas UDF.

All methods share:
- distinct query surfaces, deduplicated by the caller (ranking.py:674 /
  pipeline.py:682) — scoring cost scales with |distinct surfaces|, not
  |mention instances|;
- alias noise filtering pushed to the scan (ranking.py:216-247);
- variation→QID resolution join (ranking.py:679-705) producing the
  exploded candidate rows (mention, variation, score, qid, relv, abs_relv);
- the reference's candidate memo-cache (ranking.py:315-316) is the
  ``candidates`` stage of ``plans.pipeline.resolve``: under a
  ``CheckpointCatalog`` it is checkpointed, so a rerun resumes instead
  of re-ranking.

Output contract: candidates(mention, variation, score, qid, relv, abs_relv).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.embedding import embed_udf
from ..functions.similarity import (
    containment_score,
    damlev_similarity,
    dl_similarity,
    fuzz_ratio,
    jaro_winkler_similarity,
)
from ..functions.text import alias_noise_filter
from .blocking import salted, with_block_key
from .similarity_search import _dot


def _pair_udf(sim):
    """Arrow-batched pandas UDF (string, string) → double over the
    pure-Python pair kernel ``sim``."""

    def batch(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [sim(x, y) for x, y in zip(a.astype(str), b.astype(str))],
            index=a.index,
            dtype="float64",
        )

    return pandas_udf(batch, T.DoubleType())


damlev_sim_udf = _pair_udf(damlev_similarity)
dl_sim_udf = _pair_udf(dl_similarity)
jaro_winkler_udf = _pair_udf(
    lambda a, b: jaro_winkler_similarity(a.lower(), b.lower())
)
fuzz_ratio_udf = _pair_udf(fuzz_ratio)


def classify_ocr_variants(
    pairs: DataFrame,
    fuzz_ratio_threshold: float = 50.0,
) -> DataFrame:
    """F4 — the reference's fuzz.ratio OCR-variant classifier
    (/root/reference/utils/deezy_processing.py:52-85), re-expressed as
    one DataFrame pass.

    Input: pairs(word, nn_word, nn_is_english). Each word is split in
    half (native substring math); the two half-ratios gate the label:

    - ``positive`` (an OCR variation): nn_word is NOT an English word
      and both half-ratios exceed the threshold;
    - ``negative``: nn_word IS English, both half-ratios are below
      100 - threshold, and the lengths differ by ≤ 2;
    - ``neutral`` otherwise (the reference simply skips these).

    The halves are computed as columns so the only Python is the
    Arrow-batched fuzz_ratio kernel on the half strings."""
    half_w = (F.length("word") / 2).cast("int")
    half_n = (F.length("nn_word") / 2).cast("int")
    scored = (
        pairs.withColumn("w1", F.substring(F.col("word"), 1, half_w))
        .withColumn("w2", F.col("word").substr(half_w + 1, F.length("word")))
        .withColumn("n1", F.substring(F.col("nn_word"), 1, half_n))
        .withColumn("n2", F.col("nn_word").substr(half_n + 1, F.length("nn_word")))
        .withColumn("r1", fuzz_ratio_udf("n1", "w1"))
        .withColumn("r2", fuzz_ratio_udf("n2", "w2"))
    )
    thr = F.lit(fuzz_ratio_threshold)
    len_diff = F.length("word") - F.length("nn_word")
    # the reference skips containment pairs outright
    # (deezy_processing.py:52: 'not nn_word in word and not word in
    # nn_word') — suffix/prefix extensions must never become examples
    contained = (F.instr("word", F.col("nn_word")) > 0) | (
        F.instr("nn_word", F.col("word")) > 0
    )
    return scored.withColumn(
        "label",
        F.when(contained, F.lit("neutral"))
        .when(
            (~F.col("nn_is_english")) & (F.col("r1") > thr) & (F.col("r2") > thr),
            F.lit("positive"),
        )
        .when(
            F.col("nn_is_english")
            & (F.col("r1") < 100 - thr)
            & (F.col("r2") < 100 - thr)
            & (len_diff >= -2)
            & (len_diff <= 2),
            F.lit("negative"),
        )
        .otherwise(F.lit("neutral")),
    ).select("word", "nn_word", "nn_is_english", "r1", "r2", "label")


def clean_aliases(aliases: DataFrame) -> DataFrame:
    """Load-time alias noise filter (ranking.py:216-247). Written as a
    filter directly over the scan so Catalyst pushes it into the parquet
    reader (verified: shows up in PushedFilters)."""
    return aliases.filter(alias_noise_filter(F.col("alias")))


def perfect_match(queries: DataFrame, aliases: DataFrame) -> DataFrame:
    """J1 — exact surface match, score 1.0 (ranking.py:286-325).

    ``queries`` is the distinct mention surface table (one column
    ``mention``). No broadcast hint: a real KB has tens of millions of
    alias surfaces (hundreds of MB per executor + a driver collect if
    forced), so the join strategy is left to AQE — it broadcasts when
    the side is actually small and sort-merges otherwise."""
    alias_surfaces = aliases.select(F.col("alias").alias("variation")).distinct()
    return (
        queries.join(
            alias_surfaces,
            queries["mention"] == alias_surfaces["variation"],
            "inner",
        )
        .withColumn("score", F.lit(1.0))
        .select("mention", "variation", "score")
    )


def _blocked_pairs(
    queries: DataFrame, aliases: DataFrame, salt_factor: int = 8
) -> DataFrame:
    """(mention, variation) pairs sharing the ranking block key, salted.
    Each pair is joined once, so distinct ``queries`` need no dedup."""
    m = with_block_key(queries.select("mention"), "mention")
    a = with_block_key(aliases.select("alias").distinct(), "alias")
    m_s, a_s = salted(m, a, salt_factor)
    return m_s.join(a_s, ["block_key", "block_salt"], "inner").select(
        "mention", F.col("alias").alias("variation")
    )


def _match(
    queries: DataFrame,
    aliases: DataFrame,
    score,
    threshold: float | None = None,
    top_k: int | None = None,
    salt_factor: int = 8,
    use_blocking: bool = True,
) -> DataFrame:
    """The one ranking shape: exact → pairs → score → cut → keep.

    ``queries`` holds distinct surfaces. Surfaces that perfect-match are
    returned with score 1.0 and skip scoring (the reference's
    `remainers` logic, ranking.py:441-444). Every other surface is
    paired with the blocked alias space (the unblocked cross join when
    ``use_blocking=False`` — the reference's full scan, for parity tests
    on small KBs only), and ``score(pairs, missed)`` adds a ``score``
    column, once per pair. The per-surface cut keeps every pair at the
    best score when ``top_k`` is None (dense_rank == 1 reproduces `[:1]`
    of sorted unique scores, ranking.py:456-465), else the first
    ``top_k`` by (score desc, variation asc). Rows then keep when
    ``score >= threshold`` (or non-NULL, without one); the cut orders by
    score desc, NULLs last, so that equals keeping before the cut."""
    exact = perfect_match(queries, aliases)
    missed = queries.join(exact.select("mention"), "mention", "left_anti")
    if use_blocking:
        pairs = _blocked_pairs(missed, aliases, salt_factor)
    else:
        pairs = missed.crossJoin(
            aliases.select(F.col("alias").alias("variation")).distinct()
        )
    if top_k is None:
        w = Window.partitionBy("mention").orderBy(F.desc("score"))
        rank, limit = F.dense_rank().over(w), 1
    else:
        w = Window.partitionBy("mention").orderBy(F.desc("score"), F.asc("variation"))
        rank, limit = F.row_number().over(w), top_k
    s = F.col("score")
    keep = s.isNotNull() if threshold is None else s >= F.lit(threshold)
    # keep after the cut: no score filter for Catalyst to push below the
    # scoring projection, where it would run the kernel a second time
    scored = score(pairs, missed).withColumn("rnk", rank)
    kept = scored.filter((F.col("rnk") <= limit) & keep)
    return exact.unionByName(kept.select("mention", "variation", "score"))


def _pair_score(kernel):
    """``_match`` score function: ``kernel(mention, variation)`` — an
    Arrow pair UDF or a native column expression."""
    return lambda pairs, _missed: pairs.withColumn(
        "score", kernel(F.col("mention"), F.col("variation"))
    )


def partial_match(
    queries: DataFrame,
    aliases: DataFrame,
    damlev: bool,
    salt_factor: int = 8,
    use_blocking: bool = True,
) -> DataFrame:
    """J2/J3 — containment or Damerau-Levenshtein partial match with the
    reference's keep-all-ties top-1 (ranking.py:399-469)."""
    score = _pair_score(damlev_sim_udf if damlev else containment_score)
    return _match(
        queries, aliases, score, salt_factor=salt_factor, use_blocking=use_blocking
    )


def embedding_match(
    queries: DataFrame,
    aliases: DataFrame,
    embeddings_kb: DataFrame,
    threshold: float = 0.75,
    top_k: int = 3,
    salt_factor: int = 8,
) -> DataFrame:
    """J4 — the DeezyMatch-analog ANN join (ranking.py:471-568).

    Query surfaces missing an exact match are compared to blocked alias
    candidates by embedding cosine; ``score = cosine`` (the reference's
    ``1 - dist`` cosine branch, ranking.py:558-562), thresholded and
    top-k'd per query.

    Query-side embeddings are computed on the fly with the same hashed
    n-gram encoder used for the KB (``functions.embedding.embed_udf``);
    KB-side embeddings come from the embeddings table (equi-join, not
    point queries — S6)."""
    kb = embeddings_kb.select(
        F.col("key").alias("variation"), F.col("emb").alias("v_emb")
    )

    def cosine(pairs: DataFrame, missed: DataFrame) -> DataFrame:
        # No broadcast hint on q_emb: on OCR-noisy corpora most surfaces
        # miss the exact match, so this side grows with the corpus — AQE
        # promotes it to broadcast only when actually small.
        q_emb = missed.select("mention").withColumn("q_emb", embed_udf("mention"))
        return (
            pairs.join(q_emb, "mention")
            .join(kb, "variation", "inner")
            # both sides are unit vectors, so the dot product is the
            # cosine (the reference's faiss cosine, ranking.py:549-562)
            .withColumn("score", _dot(F.col("q_emb"), F.col("v_emb")))
        )

    return _match(queries, aliases, cosine, threshold, top_k, salt_factor)


def resolve_candidates(matches: DataFrame, aliases: DataFrame) -> DataFrame:
    """J5 — variation → {qid: relv} resolution (ranking.py:679-705),
    exploded to rows instead of the reference's 3-level dict."""
    return matches.join(
        aliases.select(
            F.col("alias").alias("variation"), "qid", "relv", "abs_relv"
        ),
        "variation",
        "inner",
    ).select("mention", "variation", "score", "qid", "relv", "abs_relv")


def find_candidates(
    queries: DataFrame,
    aliases: DataFrame,
    embeddings_kb: DataFrame | None = None,
    method: str = "fuzzy",
    threshold: float = 0.7,
    top_k: int = 3,
    salt_factor: int = 8,
) -> DataFrame:
    """Method dispatch (ranking.py:609-617 analog) → resolved candidates
    for the distinct surfaces in ``queries``.

    ``fuzzy`` (the engine default; DeezyMatch role): exact short-circuit
    + blocked Damerau-Levenshtein with threshold + top-k — the string
    measure the north star names, cheap enough without an ANN model.
    ``jarowinkler``: same shape with the Jaro-Winkler measure (the other
    measure the north star names; reference ANN role,
    /root/reference/geoparser/ranking.py:471-568). JW thresholds run
    higher than DL — 0.85+ is typical for OCR variants.
    """
    aliases = clean_aliases(aliases)
    if method == "perfectmatch":
        matches = perfect_match(queries, aliases)
    elif method == "partialmatch":
        matches = partial_match(queries, aliases, damlev=False, salt_factor=salt_factor)
    elif method == "levenshtein":
        matches = partial_match(queries, aliases, damlev=True, salt_factor=salt_factor)
    elif method == "embcosine":
        if embeddings_kb is None:
            raise ValueError("ranking method 'embcosine' needs the embeddings_kb table")
        matches = embedding_match(
            queries, aliases, embeddings_kb, threshold, top_k, salt_factor
        )
    elif method in ("fuzzy", "jarowinkler"):
        score = _pair_score(damlev_sim_udf if method == "fuzzy" else jaro_winkler_udf)
        matches = _match(queries, aliases, score, threshold, top_k, salt_factor)
    else:
        raise ValueError(f"unknown ranking method: {method}")
    return resolve_candidates(matches, aliases)
