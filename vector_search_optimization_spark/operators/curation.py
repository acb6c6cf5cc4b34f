"""The canonical scrub+gate projection — ONE definition shared by the
batch curation query (`curation_pipeline`), the streaming ingest path
(streaming.curation), and the scale probe, so batch/stream equivalence
and oracle parity hold by construction rather than by parallel edits.

Stateless projection + filter: map-only at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import redact as RD
from .lm_quality import tokenize


def curate_columns(
    df: DataFrame, keep_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Adds ``clean`` (PII-redacted text) and ``n_tokens``; keeps rows
    with non-null text and at least 10 whitespace tokens.
    ``keep_cols`` must exist on df (the documents table carries source)."""
    return (
        df.where(F.col("text").isNotNull())
        .withColumn("clean", RD.redact_pii("text"))
        .withColumn("n_tokens", F.size(tokenize("clean")))
        .where(F.col("n_tokens") >= 10)
        .select("doc_id", "lang", *keep_cols, "clean", "n_tokens")
    )


def strip_boilerplate_lines(df: DataFrame, min_doc_freq: int = 10) -> DataFrame:
    """Corpus-level boilerplate-line removal (the CCNet/RefinedWeb
    curation stage): a LINE that appears in >= ``min_doc_freq`` DISTINCT
    documents is boilerplate (cookie banners, copyright footers,
    navigation crumbs) and is stripped from every document; document
    body lines (low document-frequency) survive in their original order.

    Line identity follows the shared line contract
    (functions.text.line_stats_py): split on '\n', match on the
    ``[ \t\r]``-trimmed form, exact (no lowercasing). Lines whose
    trimmed form is empty are STRUCTURE, not boilerplate — always kept.
    The RAW (untrimmed) line text is what survives into the rebuilt
    document, so rebuilding a boilerplate-free document is byte-exact.

    Returns one row per input document: ``id_col``,
    ``n_lines_before``, ``n_lines_removed``, ``clean_text``.

    Plan / 100 TB notes: posexplode (map-side Generate), ONE
    count-distinct shuffle to build the line document-frequency table,
    a broadcast LEFT ANTI join against the (small by definition —
    boilerplate is what repeats corpus-wide) frequent-line set, and ONE
    rebuild shuffle on the document id with the order restored by an
    in-aggregate sort on the line position (never a pre-groupBy orderBy).
    If the frequent set ever outgrows a broadcast (a pathological
    corpus), drop the hint — the anti-join degrades to a shuffle join on
    the line key, still linear.
    """
    trimmed = F.regexp_replace("line", r"^[ \t\r]+|[ \t\r]+$", "")
    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("key", trimmed)
    freq = (
        lines.where(F.col("key") != "")
        .groupBy("key")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .where(F.col("__df") >= min_doc_freq)
        .select("key")
    )
    # plain equi anti-join: freq contains no empty keys (filtered), so
    # empty-trim (structure) lines can never match and are always kept
    kept = lines.join(F.broadcast(freq), "key", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_after"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda r: r["line"],
            ),
        ).alias("clean_text"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_before")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines_before",
            (
                F.col("n_lines_before")
                - F.coalesce("n_lines_after", F.lit(0))
            ).alias("n_lines_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
