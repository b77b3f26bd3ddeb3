"""Stage 1 — mention extraction from transcript turns.

The reference recognises mentions with a HuggingFace NER model plus a
~380-LoC BIO-repair chain (/root/reference/geoparser/recogniser.py:331-398,
/root/reference/utils/ner.py:70-583). Model weights are not reproducible
infrastructure for a 10^12-turn cluster job, so this engine uses a
**deterministic, rule-based tagger with the same output contract**,
vectorized over Arrow batches via ``mapInPandas`` (never per-row Python
UDFs). The rules reproduce the reference's repair semantics:

- n-dash normalisation ``—`` → ``,`` except at position 0
  (recogniser.py:369-379);
- short-turn guard: ``len(text) <= 1`` → no mentions
  (recogniser.py:369-371);
- hyphenated continuation: capitalized-hyphen-joined tokens are one
  mention, including lowercase middles like 'Ashton-under-Lyne'
  (utils/ner.py:383-427, connector repair);
- "of"-nesting: ``X of Y`` (and 'upon', 'on', 'the' connectors) joins
  two capitalized spans into one mention (utils/ner.py:429-480);
- multi-token mentions: adjacent capitalized tokens merge
  (utils/ner.py:182-294 ``aggregate_mentions``);
- per-mention score = mean of token scores rounded to 3 dp, label
  consolidated (utils/ner.py:246-260) — deterministic token score here;
- sanity filter: drop len-1 and all-lowercase mentions
  (pipeline.py:618).

Output contract (one row per mention):
    (conv_id, turn_idx, mention_id, mention, start_char, end_char,
     ner_score, tag)
with the **per-turn text-equality invariant**
``text[start_char:end_char] == mention`` under stable
``(conv_id, turn_idx)`` ordering (tests/test_ner.py:147-153 analog;
BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _case_class(category: str) -> str:
    """Regex character class covering a Unicode general category in the
    BMP, built from stdlib unicodedata (~15 ms once at import; no
    third-party regex dependency). Scope note: the capitalization
    heuristic only exists for CASED scripts — Latin/Greek/Cyrillic/
    Armenian etc.; uncased scripts (CJK, Arabic, Hebrew) carry no
    case signal for a rule-based tagger, which the reference's
    model-based NER (recogniser.py:331) does handle — documented gap.
    Non-BMP cased scripts (Deseret, Osage, Adlam, …) are out of scope."""
    import unicodedata

    cps = [
        cp
        for cp in range(0x41, 0x10000)
        if unicodedata.category(chr(cp)) == category
    ]
    ranges: list[tuple[int, int]] = []
    for cp in cps:
        if ranges and cp == ranges[-1][1] + 1:
            ranges[-1] = (ranges[-1][0], cp)
        else:
            ranges.append((cp, cp))
    return "".join(
        re.escape(chr(a)) if a == b else f"{re.escape(chr(a))}-{re.escape(chr(b))}"
        for a, b in ranges
    )


_LU = _case_class("Lu")  # unicode uppercase letters (BMP)
_LL = _case_class("Ll")  # unicode lowercase letters (BMP)

# Proper-noun-shaped token: uppercase then lowercase, then word chars,
# apostrophes or hyphens (hyphenated middles may be lowercase:
# 'Ashton-under-Lyne'). Requiring the second char lowercase makes the
# all-caps OCR garbage of the reference's robustness golden yield zero
# mentions (' • - ST G pOllO-P• FERRIS …' → [],
# tests/test_pipeline.py:85-90) without a model. The case classes are
# full Unicode Lu/Ll, so 'Łódź', 'İstanbul', 'Évian' extract exactly
# like 'London'; \\w continuation is unicode too.
_CAP_TOKEN = re.compile(rf"^[{_LU}][{_LL}][\w'’-]*$")
# Lowercase connectors that may join two capitalized spans
# (utils/ner.py:383-391 lists hyphen connectors; :449-457 the 'of'
# nesting — we honour the same connector set).
_CONNECTORS = frozenset({"of", "upon", "under", "on", "the", "de", "la"})
# Sentence-initial words that are capitalized by grammar, not entity-hood.
_STOP_CAPS = frozenset(
    w.capitalize()
    for w in (
        "the a an and or but if then it he she they we you i this that "
        "these those there here what when where who how why is are was "
        "were be been am do does did can could will would shall should "
        "may might must not no yes in at to for with from by as so also "
        "after before while its his her their our your my please let"
    ).split()
)

# commas split tokens so the n-dash fix ('Plymouth—Kingston' →
# 'Plymouth,Kingston') yields two mentions, as the reference's NER
# tokenizer does (recogniser.py:374-379)
_TOKEN_WITH_POS = re.compile(r"[^\s,]+")

# --- JVM prefilter parity -------------------------------------------
# The scan-side RLIKE prefilter uses Java's \p{Lu}/\p{Ll} (JVM Unicode
# tables) while the Python kernel classifies with unicodedata; Python
# is typically one Unicode version ahead (here 14.0 vs Java 17's
# 13.0), so a handful of recently-encoded letters (Latin Extended-D
# A7C0-A7D9 'Old Polish O' block, Glagolitic 2C2F/2C5F) are Lu/Ll to
# the kernel but not to the JVM — rows whose ONLY case signal is such
# a char would be silently dropped before the kernel ever saw them.
# The delta chars are unioned into the prefilter class explicitly
# (`[\p{Lu}\x{...}...]` — one table lookup plus <=6 single-char
# checks; a full explicit-range class instead of \p{Lu} measured ~20x
# slower). The full-BMP sweep in tests/test_extraction.py re-measures
# the delta against the running JVM and fails loudly if either table
# moves, so the superset invariant (prefilter keeps every row the
# kernel extracts from) is enforced per environment, not assumed.
_JVM_DELTA_LU = (0x2C2F, 0xA7C0, 0xA7D0, 0xA7D6, 0xA7D8)
_JVM_DELTA_LL = (0x2C5F, 0xA7C1, 0xA7D1, 0xA7D3, 0xA7D5, 0xA7D7, 0xA7D9)


def _prefilter_class(prop: str, delta: tuple[int, ...]) -> str:
    extras = "".join(f"\\x{{{cp:X}}}" for cp in delta)
    return f"[\\p{{{prop}}}{extras}]"


PREFILTER_PATTERN = _prefilter_class("Lu", _JVM_DELTA_LU) + _prefilter_class(
    "Ll", _JVM_DELTA_LL
)

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("mention", T.StringType(), False),
        T.StructField("start_char", T.IntegerType(), False),
        T.StructField("end_char", T.IntegerType(), False),
        T.StructField("ner_score", T.DoubleType(), False),
        T.StructField("tag", T.StringType(), False),
    ]
)


def _strip_token(tok: str, start: int) -> tuple[str, int]:
    """Strip leading/trailing punctuation (keeping ' and - inside),
    returning (clean, new_start) — offsets stay aligned to the original
    text (the text-equality invariant)."""
    lead = 0
    while lead < len(tok) and not tok[lead].isalnum():
        lead += 1
    trail = len(tok)
    while trail > lead and not tok[trail - 1].isalnum():
        trail -= 1
    return tok[lead:trail], start + lead


def extract_mentions_from_text(text: str) -> list[tuple[str, int, int]]:
    """Pure-Python per-turn tagger → [(mention, start_char, end_char)].

    Deterministic; shared by the Spark UDF and the single-process test
    oracle so golden-cluster fixtures need no Spark."""
    if text is None or len(text) <= 1:
        return []  # short-turn guard (recogniser.py:369-371)
    # fast reject: a mention needs at least one uppercase char — one C
    # scan instead of tokenizing (the Spark path also prefilters
    # JVM-side; this covers the oracle/tests path and mixed batches)
    if text == text.lower():
        return []
    # n-dash fix without shifting offsets (— and , are both 1 char)
    text = text[0] + text[1:].replace("—", ",")

    toks: list[tuple[str, int, int]] = []  # (clean, start, end)
    isalnum = str.isalnum
    for m in _TOKEN_WITH_POS.finditer(text):
        tok = m.group()
        # common case: token already clean at both ends — skip the strip
        if isalnum(tok[0]) and isalnum(tok[-1]):
            start = m.start()
            toks.append((tok, start, start + len(tok)))
        else:
            clean, start = _strip_token(tok, m.start())
            if clean:
                toks.append((clean, start, start + len(clean)))

    mentions: list[tuple[str, int, int]] = []
    cap_match = _CAP_TOKEN.match
    stop_caps = _STOP_CAPS
    i = 0
    n = len(toks)
    while i < n:
        tok, start, end = toks[i]
        if cap_match(tok) and tok not in stop_caps:
            # grow a span of capitalized tokens, allowing single
            # lowercase connectors between capitalized tokens
            j = i + 1
            last_end = end
            while j < n:
                nxt, ns, ne = toks[j]
                # adjacency in the original text (nothing but whitespace
                # between tokens keeps the span joinable)
                gap = text[last_end:ns]
                if gap.strip() != "":
                    break
                if cap_match(nxt) and nxt not in stop_caps:
                    last_end = ne
                    j += 1
                elif (
                    nxt in _CONNECTORS
                    and j + 1 < n
                    and cap_match(toks[j + 1][0])
                    and toks[j + 1][0] not in stop_caps
                    and text[ne : toks[j + 1][1]].strip() == ""
                ):
                    last_end = toks[j + 1][2]
                    j += 2
                else:
                    break
            mention = text[start:last_end]
            # sanity filter (pipeline.py:618)
            if len(mention) > 1 and mention != mention.lower():
                mentions.append((mention, start, last_end))
            i = j
        else:
            i += 1
    return mentions


# Candidate scan for the fast path: one C-speed pass finds every
# capitalized-token-shaped substring; Python then only validates/merges
# the handful of candidates instead of tokenizing every word. Same
# unicode Lu/Ll classes as the kernel — parity by construction.
_CAP_CAND = re.compile(rf"[{_LU}][{_LL}][\w'’-]*")


def _valid_span(text: str, s: int, e: int) -> tuple[int, int] | None:
    """Validate a candidate match against the tokenizer's clean-token
    rules, WITHOUT materializing the token stream: the match must be
    the alnum-bounded core of its [^\\s,]+ token — only non-alnum
    chars between the match and the token boundaries on either side —
    which is exactly what ``_strip_token`` + the full-match anchor of
    ``_CAP_TOKEN`` enforce in the reference path. Returns the span
    with trailing non-alnum trimmed (mirroring the strip)."""
    while e > s and not text[e - 1].isalnum():
        e -= 1
    if e - s < 2:
        return None
    i = s - 1
    while i >= 0 and not text[i].isspace() and text[i] != ",":
        if text[i].isalnum():
            return None  # alnum prefix: match is mid-token
        i -= 1
    j = e
    n = len(text)
    while j < n and not text[j].isspace() and text[j] != ",":
        if text[j].isalnum():
            return None  # alnum suffix beyond the matched class chars
        j += 1
    return s, e


def extract_mentions_fast(text: str) -> list[tuple[str, int, int]]:
    """Fast path of ``extract_mentions_from_text`` — identical output
    (differential-tested: randomized property test + real-corpus set
    equality), ~4-6x throughput. One compiled-regex candidate scan
    replaces per-token Python work; the merge loop then touches only
    capitalized candidates (rare) and checks inter-candidate gaps as
    strings: a whitespace-only gap extends the span, a single
    whitespace-delimited connector word bridges to the next candidate,
    anything else (punctuation, commas, stop-capitalized words — which
    are never candidates) breaks it, exactly like the token loop."""
    if text is None or len(text) <= 1:
        return []
    if text == text.lower():
        return []
    text = text[0] + text[1:].replace("—", ",")

    cands: list[tuple[int, int]] = []
    stop_caps = _STOP_CAPS
    for m in _CAP_CAND.finditer(text):
        v = _valid_span(text, m.start(), m.end())
        if v is not None and text[v[0] : v[1]] not in stop_caps:
            cands.append(v)
    if not cands:
        return []

    mentions: list[tuple[str, int, int]] = []
    connectors = _CONNECTORS
    k, K = 0, len(cands)
    while k < K:
        s, last = cands[k]
        j = k + 1
        while j < K:
            ns, ne = cands[j]
            gap = text[last:ns]
            if gap.strip() == "":
                last = ne
                j += 1
                continue
            parts = gap.split()
            if len(parts) == 1 and parts[0] in connectors:
                last = ne
                j += 1
                continue
            break
        mentions.append((text[s:last], s, last))
        k = j
    return mentions


def token_ner_score(tok: str) -> float:
    """Deterministic stand-in for the model's per-token confidence:
    entity-shaped (capitalized) tokens score high, rising slightly with
    length (longer surface forms are less ambiguous, which is how the
    reference's BERT confidences trend); lowercase connector tokens
    score a flat 0.85. Range [0.85, 0.99]."""
    if _CAP_TOKEN.match(tok):
        return 0.9 + min(len(tok), 9) / 100.0
    return 0.85


def mention_ner_score(mention: str) -> float:
    """Per-mention score = mean of token scores rounded to 3 dp —
    exactly the reference's consolidation (utils/ner.py:254-260)."""
    toks = _TOKEN_WITH_POS.findall(mention)
    if not toks:
        return 0.0
    return round(sum(token_ner_score(t) for t in toks) / len(toks), 3)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {
            "conv_id": [],
            "turn_idx": [],
            "mention_id": [],
            "mention": [],
            "start_char": [],
            "end_char": [],
            "ner_score": [],
            "tag": [],
        }
        for conv_id, turn_idx, text in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["text"]
        ):
            # fast path (regex candidate scan) — differential-tested
            # bit-identical to extract_mentions_from_text, ~10x faster
            # on mention-bearing text (the pipeline's throughput
            # ceiling); the kernel remains the test oracle
            for mention, s, e in extract_mentions_fast(text):
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(int(turn_idx))
                # mention_id = conv_id:turn_idx:start_char (FIXTURES.md §5)
                out["mention_id"].append(f"{conv_id}:{int(turn_idx)}:{s}")
                out["mention"].append(mention)
                out["start_char"].append(s)
                out["end_char"].append(e)
                # mean of deterministic token scores, rounded to 3 dp
                # (utils/ner.py:254-260)
                out["ner_score"].append(mention_ner_score(mention))
                out["tag"].append("LOC")
        yield pd.DataFrame(out)


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → mentions.

    Column-pruned before the UDF so the Arrow transfer ships only the
    three needed columns; scales linearly with input partitions (no
    shuffle in this stage).

    JVM-side prefilter: a turn can only yield mentions if it contains a
    capital-then-lowercase bigram (`_CAP_TOKEN` requires one), so rows
    without one are dropped by a native RLIKE before the UDF
    (``PREFILTER_PATTERN`` — Java \\p{Lu}/\\p{Ll} unioned with the
    measured Python-vs-JVM Unicode-table delta, see the parity note
    above) — semantically identical output (those rows produce zero
    mentions), but on real transcripts a large fraction of turns (tool
    output, all-lowercase chat) never pays the Arrow transfer or the
    Python tokenizer. The Python kernel is the pipeline's throughput
    ceiling (~11-14k rows/s/core), so scan-side pruning here is the
    single highest-leverage filter in the engine."""
    pruned = transcripts.select("conv_id", "turn_idx", "text").filter(
        F.col("text").rlike(PREFILTER_PATTERN)
    )
    return pruned.mapInPandas(_extract_batches, schema=MENTION_SCHEMA)


def distinct_mentions(mentions: DataFrame) -> DataFrame:
    """The dedup that makes blocking cheap
    (/root/reference/geoparser/ranking.py:674): unique surface forms
    only go through scoring once. A shuffle, but over the (small)
    distinct-mention domain, not the mention instances."""
    return mentions.select("mention").distinct()


def with_turn_context(transcripts: DataFrame) -> DataFrame:
    """prev/next turn text as context (W10) — lag/lead over the stable
    (conv_id, turn_idx) ordering (/root/reference/geoparser/pipeline.py:467-471)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn("prev_text", F.lag("text").over(w)).withColumn(
        "next_text", F.lead("text").over(w)
    )
