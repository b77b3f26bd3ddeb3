"""Text-analysis operators for the training-data pipeline (task brief):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All native column expressions — zero Python in the hot
path; every one of these is a projection that fuses into the scan."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny stopword inventories for the n-gram language heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "pas", "pour", "que", "une"],
    "es": ["el", "los", "las", "es", "por", "una", "para", "con", "del", "se"],
}


def _marker_hits(words: Column, markers: list[str]) -> Column:
    return F.size(
        F.array_intersect(words, F.array(*[F.lit(m) for m in markers]))
    )


def with_language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: distinct-word overlap with per-language
    marker sets; ties break by fixed language order. Adds
    (lang_pred, lang_conf)."""
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), "[^a-zà-ÿ]+"))
    hit_cols = {lang: _marker_hits(words, ms) for lang, ms in _LANG_MARKERS.items()}
    total = sum(hit_cols.values(), F.lit(0))
    best_lang = F.lit("und")
    best_hits = F.lit(-1)
    for lang, hits in hit_cols.items():
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return docs.withColumn(
        "lang_pred", F.when(total > 0, best_lang).otherwise(F.lit("und"))
    ).withColumn(
        "lang_conf",
        F.when(total > 0, best_hits / total).otherwise(F.lit(0.0)),
    )


def with_decade(docs: DataFrame, ts_col: str = "ts") -> DataFrame:
    """F11 — year/decade extraction from a timestamp column
    (/root/reference/utils/preprocess_data.py:302-303: the reference
    derives ``year`` and ``decade = int(year/10)*10`` per article for
    its per-decade experiment splits). Pure codegen projection —
    fuses into the scan. ``%`` (dividend-signed mod, unlike pmod)
    truncates toward zero exactly like the reference's int(year/10)*10,
    so pre-epoch years agree too: year -5 → decade 0."""
    year = F.year(F.col(ts_col))
    return docs.withColumn("year", year).withColumn(
        "decade", year - year % F.lit(10)
    )


def with_quality_score(
    docs: DataFrame, text_col: str = "text", round_dp: int | None = 6
) -> DataFrame:
    """Document quality features + a composite score in [0, 1]:
    length band, punctuation ratio, stopword ratio, mean word length —
    the standard pretraining-corpus heuristics, all codegen'd."""
    text = F.col(text_col)
    n_chars = F.length(text)
    words = F.split(F.trim(text), "\\s+")
    n_words = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace(text, "[^\\w\\s]", ""))
    stop_hits = _marker_hits(
        F.array_distinct(F.transform(words, F.lower)), _LANG_MARKERS["en"]
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, stop_hits / F.lit(10.0)).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    len_score = F.least(n_words / F.lit(50.0), F.lit(1.0))
    score = (
        len_score * 0.4
        + F.least(stop_ratio, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.1).otherwise(0.0)
    )
    def _r(c):
        return F.round(c, round_dp) if round_dp is not None else c

    return (
        docs.withColumn("n_words", n_words)
        .withColumn("punct_ratio", _r(punct_ratio))
        .withColumn("stopword_ratio", _r(stop_ratio))
        .withColumn("quality_score", _r(score))
    )


def with_token_counts(
    docs: DataFrame, text_col: str = "text", round_dp: int | None = 4
) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate: split on
    whitespace AND on letter/digit/punct boundaries (the regex analog of
    byte-pair pretokenization), plus a chars/4 floor heuristic."""
    text = F.col(text_col)
    ws_tokens = F.size(F.split(F.trim(text), "\\s+"))
    bpe_ish = F.size(
        F.filter(
            F.split(text, "(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|\\s+|(?=[^\\w\\s])|(?<=[^\\w\\s])"),
            lambda t: F.length(t) > 0,
        )
    )
    cpt = F.length(text) / F.greatest(ws_tokens, F.lit(1))
    return (
        docs.withColumn("ws_tokens", ws_tokens)
        .withColumn("subword_tokens_est", bpe_ish)
        .withColumn(
            "chars_per_token", F.round(cpt, round_dp) if round_dp is not None else cpt
        )
    )


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint: xxhash64 of the normalized
    text plus a locality-sensitive prefix/suffix/length triple — cheap
    join keys for cross-snapshot lineage."""
    norm = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return (
        docs.withColumn("fp_hash", F.xxhash64(norm))
        .withColumn("fp_prefix", F.xxhash64(F.substring(norm, 1, 64)))
        .withColumn("fp_suffix", F.xxhash64(F.substring(F.reverse(norm), 1, 64)))
        .withColumn("fp_len_band", (F.length(norm) / 64).cast("int"))
    )
