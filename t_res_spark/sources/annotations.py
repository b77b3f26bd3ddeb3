"""S8/S9 — WebAnno 3.x and HIPE-2022 annotation-file parsers,
Spark-first.

The reference parses both formats with line-by-line Python loops
(`process_tsv` — WebAnno, /root/reference/utils/preprocess_data.py:
710-871; `process_hipe_for_linking` — HIPE, :464-707) over files it
downloads. Downloads are out of scope here (task rules: no external
data); what IS in scope is the parsing capability, driven by synthetic
samples in the same public formats.

Spark-first split:
- line ingestion: ``wholetext`` read + native ``split``/``posexplode``
  — gives per-file line numbers with guaranteed order (annotation files
  are small per-file corpus artifacts; a whole file in one row is the
  documented constraint);
- WebAnno is fully DECLARATIVE: every token line carries its own char
  offsets, and multi-token mentions are keyed by the ``[n]`` bracket
  group — so B-/I- assignment is a window row_number and mention
  collation is a gap-aware array fold. No sequential state at all.
- HIPE genuinely needs a running char index (offsets are NOT in the
  file; sentence boundaries come from the MISC layer), so its
  reconstruction runs per document inside ``applyInPandas`` after a
  declarative doc-id propagation (last non-null over the line-number
  window) — sequential-within-group, parallel across documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# WebAnno 3.x token line: "3-2\t10-16\ttoken[\twkpd\tlabel]"
_WEBANNO_TOKLINE = r"^[0-9]+-[0-9]+\t[0-9]+-[0-9]+\t.*$"


def read_annotation_lines(spark: SparkSession, path: str) -> DataFrame:
    """(file, line_no, line) with correct intra-file ordering."""
    return (
        spark.read.text(path, wholetext=True)
        .select(
            F.input_file_name().alias("file"),
            F.posexplode(F.split("value", "\n")).alias("line_no", "line"),
        )
    )


def parse_webanno(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """WebAnno TSV → (tokens, mentions), declaratively.

    tokens: (file, sent_pos, tok_pos, tok_start, tok_end, token, wkpd,
    bio) — the reference's ``dTokens`` (BIO scheme; bracket suffixes
    stripped, ``_``/``*`` labels → O).
    mentions: (file, sent_pos, start_char, end_char, mention, wkpd,
    label) — the reference's ``dMTokens`` (multi-token mentions joined
    with offset-faithful whitespace)."""
    tok = (
        lines.filter(F.col("line").rlike(_WEBANNO_TOKLINE))
        .select("file", "line_no", F.split("line", "\t").alias("c"))
        .select(
            "file",
            F.split(F.col("c")[0], "-")[0].cast("int").alias("sent_pos"),
            F.split(F.col("c")[0], "-")[1].cast("int").alias("tok_pos"),
            F.split(F.col("c")[1], "-")[0].cast("int").alias("tok_start"),
            F.split(F.col("c")[1], "-")[1].cast("int").alias("tok_end"),
            F.col("c")[2].alias("token"),
            F.coalesce(F.col("c")[3], F.lit("_")).alias("wkpd_raw"),
            F.coalesce(F.col("c")[4], F.lit("_")).alias("label_raw"),
        )
        .withColumn(
            "grp", F.regexp_extract("wkpd_raw", r"\[([0-9]+)\]$", 1)
        )
        .withColumn("wkpd", F.regexp_replace("wkpd_raw", r"\[[0-9]+\]$", ""))
        .withColumn("label", F.regexp_replace("label_raw", r"\[[0-9]+\]$", ""))
    )
    grp_w = Window.partitionBy("file", "grp").orderBy("sent_pos", "tok_start")
    labeled = tok.withColumn(
        "bio",
        F.when(
            F.col("grp") != "",
            F.when(F.row_number().over(grp_w) == 1, F.concat(F.lit("B-"), F.col("label")))
            .otherwise(F.concat(F.lit("I-"), F.col("label"))),
        )
        .when(
            (F.col("label") != "_") & (F.col("label") != "*") & (F.col("label") != ""),
            F.concat(F.lit("B-"), F.col("label")),
        )
        .otherwise(F.lit("O")),
    )
    tokens = labeled.select(
        "file", "sent_pos", "tok_pos", "tok_start", "tok_end", "token", "wkpd", "bio"
    )

    # multi-token mentions: gap-aware fold over the sorted group
    grouped = (
        labeled.filter(F.col("grp") != "")
        .groupBy("file", "grp")
        .agg(
            F.min("sent_pos").alias("sent_pos"),
            F.min("tok_start").alias("start_char"),
            F.max("tok_end").alias("end_char"),
            F.first("wkpd").alias("wkpd"),
            F.first("label").alias("label"),
            F.sort_array(
                F.collect_list(F.struct("tok_start", "tok_end", "token"))
            ).alias("toks"),
        )
        .withColumn(
            "mention",
            F.aggregate(
                "toks",
                F.struct(F.lit("").alias("text"), F.lit(-1).alias("prev")),
                lambda acc, t: F.struct(
                    F.concat(
                        acc["text"],
                        F.when(
                            acc["prev"] < 0, F.lit("")
                        ).otherwise(
                            F.repeat(F.lit(" "), t["tok_start"] - acc["prev"])
                        ),
                        t["token"],
                    ).alias("text"),
                    t["tok_end"].alias("prev"),
                ),
                lambda acc: acc["text"],
            ),
        )
    )
    singles = labeled.filter(F.col("grp") == "").select(
        "file", "sent_pos",
        F.col("tok_start").alias("start_char"),
        F.col("tok_end").alias("end_char"),
        F.col("token").alias("mention"),
        "wkpd", "label",
    )
    mentions = singles.unionByName(
        grouped.select(
            "file", "sent_pos", "start_char", "end_char", "mention", "wkpd", "label"
        )
    )
    return tokens, mentions


def _hipe_with_article_id(lines: DataFrame) -> DataFrame:
    """Declarative doc-id propagation: each ``# hipe2022:document_id``
    comment opens a document; later lines inherit it via last-non-null
    over the per-file line order."""
    doc_w = (
        Window.partitionBy("file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return lines.withColumn(
        "doc_marker",
        F.when(
            F.col("line").startswith("# hipe2022:document_id"),
            F.trim(F.element_at(F.split("line", "= "), -1)),
        ),
    ).withColumn("article_id", F.last("doc_marker", ignorenulls=True).over(doc_w))


def hipe_token_table(lines: DataFrame) -> DataFrame:
    """The fully DECLARATIVE half of the HIPE parse (S9), as its own
    operator: doc-id propagation + column split of well-formed 10-column
    token lines → (article_id, line_no, token, etag, elink, misc).
    No sequential state — window + native split only (DuckDB-expressible,
    oracle-gated as s9_tokens); offset reconstruction stays in
    ``parse_hipe``. Tab-separated per the HIPE-2022 spec, with a
    whitespace fallback for legacy space-separated fixtures."""
    tagged = _hipe_with_article_id(lines)
    cols = F.when(
        F.col("line").contains("\t"), F.split("line", "\t")
    ).otherwise(F.split(F.trim("line"), "\\s+"))
    return (
        tagged.filter(
            F.col("article_id").isNotNull()
            & ~F.col("line").startswith("#")
            & (F.length(F.trim("line")) > 0)
        )
        .withColumn("c", cols)
        .filter(F.size("c") == 10)
        .select(
            "article_id",
            "line_no",
            F.col("c")[0].alias("token"),
            F.col("c")[1].alias("etag"),
            F.col("c")[7].alias("elink"),
            F.col("c")[9].alias("misc"),
        )
    )


HIPE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("article_id", T.StringType(), False),
        T.StructField("sent_pos", T.IntegerType(), False),
        # sentence | annotation | malformed (diagnostic row: one per
        # article with dropped lines; mention_start carries the count —
        # consumers must filter kind before treating rows as data)
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),  # sentence text
        T.StructField("mention", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("wkdt_qid", T.StringType(), True),
        T.StructField("mention_start", T.IntegerType(), True),
        T.StructField("mention_end", T.IntegerType(), True),
    ]
)


def parse_hipe(lines: DataFrame) -> DataFrame:
    """HIPE-2022 TSV → long frame of sentences + annotations per
    article (the shape ``process_hipe_for_linking`` flattens into its
    sentences/annotations lists, preprocess_data.py:464-707).

    Declarative part: document-id propagation — each
    ``# hipe2022:document_id = X`` comment opens a document, and every
    later line inherits it via last-non-null over the line order.
    Sequential part (per document, applyInPandas): running char index →
    token offsets, sentence splits on the MISC ``EndOfSentence`` marker,
    B-/I- runs → mention spans with reconstructed offsets.

    Diagnostic-row contract: articles with malformed TSV
    lines additionally emit ONE row with ``kind='malformed'``,
    ``sent_pos=-1`` and the dropped-line count in ``mention_start``
    (all other fields null). Consumers reading sentences or
    annotations must filter on ``kind``; audit queries sum
    ``mention_start`` over ``kind='malformed'``."""
    tagged = _hipe_with_article_id(lines)
    toklines = tagged.filter(
        F.col("article_id").isNotNull()
        & ~F.col("line").startswith("#")
        & (F.length(F.trim("line")) > 0)
    )

    def _per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for article_id, grp in pdf.groupby("article_id", sort=True):
            grp = grp.sort_values("line_no")
            sent_pos = 0
            sent_text = ""
            dropped = 0
            open_mention = None  # (start, text, etype, qid)

            def close_mention():
                nonlocal open_mention
                if open_mention is not None:
                    s, txt, et, qid = open_mention
                    out.append(
                        (article_id, sent_pos, "annotation", None, txt, et,
                         qid if qid and qid != "_" else "NIL", s, s + len(txt))
                    )
                    open_mention = None

            def close_sentence():
                nonlocal sent_pos, sent_text
                if sent_text:
                    out.append(
                        (article_id, sent_pos, "sentence", sent_text,
                         None, None, None, None, None)
                    )
                    sent_pos += 1
                    sent_text = ""

            for line in grp["line"]:
                # HIPE-2022 TSVs are TAB-separated with possibly-empty
                # columns and tokens that may contain spaces — a
                # whitespace split() collapses/mis-columns those rows.
                # DELIBERATE divergence from the reference, which
                # whitespace-splits its HIPE lines
                # (preprocess_data.py:549 `line.strip().split()`) and
                # therefore silently drops such rows; this parser
                # follows the format spec instead and surfaces drops as
                # diagnostics. Legacy space-separated fixtures (no tab
                # present) still parse via the fallback.
                raw = line.rstrip("\n")
                cols = raw.split("\t") if "\t" in raw else raw.strip().split()
                if len(cols) != 10:
                    dropped += 1
                    continue
                token, etag, elink, misc = cols[0], cols[1], cols[7], cols[-1]
                # sentence-relative offsets (the ingest annotation
                # contract): mention_start indexes into sentence_text
                if sent_text:
                    sent_text += " "
                start = len(sent_text)
                sent_text += token
                if etag.startswith("B-"):
                    close_mention()
                    open_mention = (start, token, etag[2:], elink)
                elif etag.startswith("I-") and open_mention is not None:
                    s, txt, et, qid = open_mention
                    open_mention = (s, txt + " " + token, et, qid)
                else:
                    close_mention()
                if "EndOfSentence" in misc:
                    close_mention()
                    close_sentence()
            close_mention()
            close_sentence()
            if dropped:
                # surface malformed-line counts as a diagnostic row
                # (kind='malformed', mention_start = count) instead of
                # silently continuing — an audit query can sum these
                out.append(
                    (article_id, -1, "malformed", None, None, None,
                     None, dropped, None)
                )
        return pd.DataFrame(
            out,
            columns=[f.name for f in HIPE_OUT_SCHEMA.fields],
        )

    # explicit-N AQE-coalesce-exempt pin for the Arrow group stage —
    # rationale + measurements in functions.shuffle.pinned_repartition
    from ..functions.shuffle import pinned_repartition

    return (
        pinned_repartition(
            toklines.select("article_id", "line_no", "line"), "article_id"
        )
        .groupBy("article_id")
        .applyInPandas(_per_doc, schema=HIPE_OUT_SCHEMA)
    )
