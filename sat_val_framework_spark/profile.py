"""Derived per-document series used by stats/drift checks on the
interleaved-documents table (BASELINE.json input_hint shape)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_n_spans(docs: DataFrame) -> DataFrame:
    """docs + n_spans (NULL when spans is NULL — a schema_assert failure,
    not a zero).

    The length is computed from the cheapest leaf (spans.kind) so nested
    schema pruning reads ONE small column instead of the whole struct —
    the text payload is ~90% of the bytes (measured 2.8x faster scan).
    """
    kinds = F.col("spans").getField("kind")
    return docs.withColumn(
        "n_spans",
        F.when(kinds.isNull(), F.lit(None).cast("int")).otherwise(F.size(kinds)),
    )


def n_spans_series(docs: DataFrame, part_col: str = "part_id") -> DataFrame:
    return with_n_spans(docs).select(part_col, F.col("n_spans").cast("double").alias("value"))


def text_len_series(docs: DataFrame, part_col: str = "part_id") -> DataFrame:
    """One row per span (NULL value for non-text spans and for docs with
    NULL/empty spans — explode_outer keeps them). Lengths are computed
    inside the array BEFORE exploding so the explode fans out ints, not the
    span strings themselves (less row churn on wide text).

    NULL rows are kept ON PURPOSE: the drift counters count them nowhere
    but keep their partition's row, so a partition whose docs are all
    media/null-spans still emits a verdict instead of staying pending
    forever (ADVICE r1)."""
    lens = F.transform(
        "spans",
        lambda s: F.when(s["kind"] == "text", F.length(s["text"])),
    )
    return docs.select(part_col, F.explode_outer(lens).alias("v")).select(
        part_col, F.col("v").cast("double").alias("value")
    )
