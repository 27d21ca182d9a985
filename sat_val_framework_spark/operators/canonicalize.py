"""B9: span-sequence canonicalization + equality (the per-row invariant).

Contract: ``homogenise_to`` coerces each granule into a common target format
and re-asserts invariants on construction (/root/reference/sat_val_framework/
implement.py:124-136,218-223). Engine form: every document's span sequence is
canonicalized to an array of (kind, text, media_ref) structs ordered by
(offset, pos) — ``posexplode`` + ``sort_array(collect_list(struct(...)))``
per the input hint — and two tables are compared per doc_id on exact
(kind, text, media_ref, order) equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.verdicts import violation_verdicts


def canonicalize_spans(docs: DataFrame, part_col: str = "part_id") -> DataFrame:
    """-> (doc_id, part_id, canon: array<struct<kind,text,media_ref>>).

    sort_array orders structs lexicographically by field position, so
    (offset, pos) lead the struct purely as sort keys and are stripped after
    ordering. Docs with NULL/empty spans canonicalize to NULL (they are
    schema_assert territory, not comparable sequences). One shuffle, keyed
    by doc_id; deterministic at any parallelism because the sort key
    (offset, pos) is total per doc.
    """
    exploded = docs.select(
        "doc_id", part_col, F.posexplode_outer("spans").alias("pos", "span")
    )
    keyed = F.when(
        F.col("pos").isNotNull(),
        F.struct(
            F.col("span.offset").alias("offset"),
            F.col("pos").alias("pos"),
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        ),
    )
    arr = F.sort_array(F.collect_list(keyed))
    canon = F.transform(
        arr,
        lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"), s["media_ref"].alias("media_ref")
        ),
    )
    return exploded.groupBy("doc_id", part_col).agg(
        F.when(F.max("pos").isNotNull(), canon).alias("canon")
    )


def span_seq_check(
    actual: DataFrame,
    expected: DataFrame,
    part_col: str = "part_id",
) -> tuple[DataFrame, DataFrame]:
    """Compare two documents tables under canonical span-sequence equality.

    -> (verdicts per partition of `actual`, mismatch rows). A mismatch is a
    doc_id whose canonical (kind, text, media_ref, order) sequence differs,
    is missing, or is extra on either side. eqNullSafe keeps NULL==NULL.
    """
    a = canonicalize_spans(actual, part_col).alias("a")
    e = canonicalize_spans(expected, part_col).alias("e")
    # (doc_id, part_id) is the document identity: duplicated doc_ids (a
    # uniqueness violation, caught by B4) must not fan out this join
    joined = a.join(
        e,
        (F.col("a.doc_id") == F.col("e.doc_id"))
        & (F.col(f"a.{part_col}") == F.col(f"e.{part_col}")),
        "full_outer",
    )
    mismatches = joined.filter(~F.col("a.canon").eqNullSafe(F.col("e.canon")) |
                               F.col("a.doc_id").isNull() | F.col("e.doc_id").isNull()).select(
        F.coalesce(F.col("a.doc_id"), F.col("e.doc_id")).alias("doc_id"),
        F.coalesce(F.col(f"a.{part_col}"), F.col(f"e.{part_col}")).alias("part_id"),
        F.col("a.canon").alias("actual_canon"),
        F.col("e.canon").alias("expected_canon"),
    )
    viol = mismatches.select("part_id", "doc_id")
    return violation_verdicts(actual, viol, "span_seq_eq", "doc_id", part_col), mismatches
