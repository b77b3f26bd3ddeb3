"""Stage 2 — blocking: bound the candidate pair space.

The reference bounds its fuzzy-match pair space with a faiss ANN index
(/root/reference/geoparser/ranking.py:534-545) or doesn't bound it at
all (partial_match scans every alias per query,
ranking.py:399-469). At 10^12 turns neither works; ranking here blocks
on one cheap deterministic key, ``functions.text.phonetic_key`` (first
char + consonant skeleton, OCR-vowel tolerant).

One key decides the pair set: the phonetic key is computed from the
norm key (lowercase alphanumeric skeleton), so strings sharing a norm
key share a phonetic key (and both are empty together). A norm-key join
adds no pair, only duplicates; with one key each pair is joined once,
and ``ranking._blocked_pairs`` needs no dedup until a family the
phonetic key does not imply (one-deletion variants, say) is added.
``with_block_keys`` (both families, a row per key) stays for callers
outside the ranker: the gate's J3b query and perfbench's pair count.

Skew: hot aliases (the "London" problem — Zipfian, asserted hot in the
reference, pipeline.py:139) make some block keys huge. Mitigation here
is **salting** (north rule requires explicit skew handling): the alias
side of a hot block is split into ``salt_factor`` sub-blocks and the
mention side is replicated across them, bounding per-task pair counts;
AQE skew-join splitting covers residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import norm_key, phonetic_key


def with_block_key(df: DataFrame, text_col: str) -> DataFrame:
    """df plus ``block_key``, the phonetic key ranking joins on; rows
    with an empty key (no [a-z0-9] char) are dropped."""
    return df.withColumn("block_key", phonetic_key(F.col(text_col))).filter(
        F.length("block_key") > 0
    )


def with_block_keys(df: DataFrame, text_col: str) -> DataFrame:
    """Explode df to (block_key, ...) rows — one per key family."""
    c = F.col(text_col)
    keys = F.array(
        F.concat(F.lit("n:"), norm_key(c)), F.concat(F.lit("p:"), phonetic_key(c))
    )
    keyed = df.withColumn("block_key", F.explode(F.array_distinct(keys)))
    return keyed.filter(F.length("block_key") > 2)


def salted(
    mention_side: DataFrame,
    alias_side: DataFrame,
    salt_factor: int,
) -> tuple[DataFrame, DataFrame]:
    """Return (mention_side', alias_side') joinable on
    (block_key, block_salt).

    Alias rows are assigned a deterministic salt from their alias string;
    mention rows are replicated over all salts. Replication factor is
    ``salt_factor`` on the (small) distinct-mention side only — the
    classic replicated-fragment join for skewed keys."""
    if salt_factor <= 1:
        return (
            mention_side.withColumn("block_salt", F.lit(0)),
            alias_side.withColumn("block_salt", F.lit(0)),
        )
    a = alias_side.withColumn(
        "block_salt", F.pmod(F.xxhash64("alias"), F.lit(salt_factor)).cast("int")
    )
    m = mention_side.withColumn(
        "block_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))),
    )
    return m, a
