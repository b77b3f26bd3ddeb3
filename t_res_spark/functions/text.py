"""Text normalization — native column expressions where possible.

Reference parity:
- alias noise filter: drop variants containing ``", "`` or ``" ("``
  (/root/reference/geoparser/ranking.py:216-247).
- normalized blocking key + vowel-stripped phonetic-ish key (our analog
  of the DeezyMatch candidate blocking; SURVEY §7.0 stage 2), with a
  pure-Python mirror (``block_keys``) for the oracle and datagen.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def alias_noise_filter(alias: Column) -> Column:
    """Predicate: alias is clean (ranking.py:221-227). Catalyst pushes
    this to the alias-table scan."""
    return (~alias.contains(", ")) & (~alias.contains(" ("))


def norm_key(s: Column) -> Column:
    """Primary blocking key: lowercase, alphanumerics only.

    'Ashton-under-Lyne' and 'Ashton under Lyne' share a key; OCR noise
    does not (the phonetic key below catches most of it)."""
    return F.regexp_replace(F.lower(s), "[^a-z0-9]", "")


def phonetic_key(s: Column) -> Column:
    """Secondary blocking key tolerant to OCR vowel noise: first char +
    consonant skeleton with runs collapsed.

    Our deterministic analog of the reference's DeezyMatch ANN blocking
    (/root/reference/geoparser/ranking.py:471-568): 'Shefiield' and
    'Sheffield' share 'sfld'-style keys. Uses a Java-regex backreference
    (run collapse), so it is Spark-side only; oracle-gated blocking
    queries use a norm-key prefix block instead (RE2/DuckDB has no
    backreferences)."""
    lowered = norm_key(s)
    skeleton = F.regexp_replace(lowered, "[aeiouy0-9]", "")
    collapsed = F.regexp_replace(skeleton, "(.)\\1+", "$1")
    return F.concat(F.substring(lowered, 1, 1), collapsed)


def norm_key_str(s: str) -> str:
    """Pure-Python ``norm_key``: ASCII-exact, as the Spark regex is —
    every non-[a-z0-9] char goes, non-ASCII letters included."""
    return re.sub("[^a-z0-9]", "", s.lower())


def phonetic_key_str(s: str) -> str:
    """Pure-Python ``phonetic_key``."""
    n = norm_key_str(s)
    skeleton = re.sub("[aeiouy0-9]", "", n)
    return n[:1] + re.sub(r"(.)\1+", r"\1", skeleton)


def block_keys(s: str) -> set[str]:
    """Pure-Python ``operators.blocking.with_block_keys``: the prefixed
    keys of one surface, empty keys dropped."""
    keys = {"n:" + norm_key_str(s), "p:" + phonetic_key_str(s)}
    return {k for k in keys if len(k) > 2}


def normalize_wiki_url(url: Column) -> Column:
    """F9 — consistent wiki-link key
    (/root/reference/utils/process_wikipedia.py:6-37
    ``make_wikilinks_consistent``): lowercase → percent-decode →
    ``_`` → space → strip ``#fragment`` → percent-encode. All native
    (``url_decode``/``url_encode``).

    Encoding delta, documented: Spark's ``url_encode`` is the
    form-encoding variant (space → ``+``) where Python's ``quote`` emits
    ``%20``. The function's purpose is a CONSISTENT join key — both
    sides of any lookup must use this same normalizer, which this
    preserves; it is not byte-parity with the reference's dictionary
    files (those are offline artifacts we don't ship)."""
    # try_url_decode: a single malformed percent-escape (OCR'd titles
    # like '100%_wool') must not abort the job — undecodable input
    # passes through raw, like urllib.parse.unquote's tolerance.
    lowered = F.lower(url)
    decoded = F.coalesce(F.try_url_decode(lowered), lowered)
    spaced = F.regexp_replace(decoded, "_", " ")
    defragged = F.regexp_replace(spaced, "#.*$", "")
    return F.url_encode(defragged)


def wikipedia_to_wikidata_key(entity: Column) -> Column:
    """F9 — the wikipedia2wikidata lookup key
    (process_wikipedia.py:40-66): consistent link → decode →
    space → ``_``."""
    consistent = normalize_wiki_url(entity)
    return F.regexp_replace(
        F.coalesce(F.try_url_decode(consistent), consistent), " ", "_"
    )


def zfill_code(code: Column, width: int = 7) -> Column:
    """F10 — ``str(code).zfill(7)`` for publication codes
    (/root/reference/utils/preprocess_data.py:307).

    NOT a bare ``lpad``: lpad TRUNCATES values longer than ``width`` to
    their first ``width`` chars, silently colliding distinct >7-digit
    codes; ``str.zfill`` never truncates, so over-width codes pass
    through unchanged. Sign handling matches zfill for BOTH signs:
    zeros fill AFTER the sign character ('-12' → '-000012',
    '+12' → '+000012'; str(int) never emits '+', but string-typed
    inputs may)."""
    s = code.cast("string")
    sign = F.substring(s, 1, 1)
    padded = F.when(
        (sign == "-") | (sign == "+"),
        F.concat(sign, F.lpad(F.substring(s, 2, 2147483647), width - 1, "0")),
    ).otherwise(F.lpad(s, width, "0"))
    return F.when(F.length(s) >= width, s).otherwise(padded)


_BRACKETS = {
    "-LCB-": "{", "-LRB-": "(", "-LSB-": "[",
    "-RCB-": "}", "-RRB-": ")", "-RSB-": "]",
}


def normalize_vocab_token(
    token: Column, lower: bool = False, digit_0: bool = False
) -> Column:
    """F13 — REL vocabulary token normalisation
    (/root/reference/utils/REL/vocabulary.py:58-87): special tokens pass
    through, PTB bracket escapes map to their glyphs, digits collapse to
    '0' (when ``digit_0``), then optional lowercase — one CASE chain,
    fully codegen'd. Defaults match the reference's module flags
    (LOWER=False, DIGIT_0=False, vocabulary.py:4-5 — what its only
    runtime call site, get_id, uses)."""
    special = token.isin("#UNK#", "<s>", "</s>")
    bracket = F.create_map(
        *[F.lit(x) for kv in _BRACKETS.items() for x in kv]
    )[token]
    base = F.when(bracket.isNotNull(), bracket).otherwise(
        F.regexp_replace(token, "[0-9]", "0") if digit_0 else token
    )
    normed = F.lower(base) if lower else base
    return F.when(special, token).otherwise(normed)
