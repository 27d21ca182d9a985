"""B5/B6: referential integrity of span media_refs against media_catalog.

Contract: the reference's collocation matcher + whole-event materialization
(/root/reference/sat_val_framework/implement.py:140-143,177-190) — a granule
referencing a partner that cannot be loaded invalidates the event. Engine
form: explode media spans, LEFT ANTI join the dimension; survivors of the
anti join ARE the orphans (violation rows).

Three physical strategies for the same logical plan:
- ``strategy='broadcast'`` — catalog small enough to ship to every executor:
  no shuffle of the (huge) fact side at all.
- ``strategy='merge'``     — catalog too big to broadcast: sort-merge join,
  AQE skew-join splits oversized partitions at runtime.
- ``strategy='bloom'``     — catalog key SET too big to broadcast but its
  bloom filter fits (~1.2 bytes/key at 1% FPP): definite orphans resolve
  map-side with zero shuffle; only bloom survivors pay the exact anti-join
  (functions/bloom.py).
All must give identical verdicts (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.functions.bloom import bloom_anti_join
from sat_val_framework_spark.verdicts import violation_verdicts


def exploded_media_spans(docs: DataFrame, part_col: str = "part_id") -> DataFrame:
    """Media spans, one row each. Callers share/cache this frame between the
    referential check and canonicalization (scan sharing, SURVEY.md §4)."""
    return (
        docs.select("doc_id", part_col, F.posexplode("spans").alias("pos", "span"))
        .filter(F.col("span.kind") != "text")
        .select(
            "doc_id",
            part_col,
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
    )


def orphan_refs(media_spans: DataFrame, catalog: DataFrame, strategy: str = "broadcast") -> DataFrame:
    dim = catalog.select("media_ref")
    if strategy == "broadcast":
        dim = F.broadcast(dim)
        return media_spans.join(dim, "media_ref", "left_anti")
    if strategy == "merge":
        return media_spans.join(dim.hint("merge"), "media_ref", "left_anti")
    if strategy == "bloom":
        return bloom_anti_join(media_spans, dim, "media_ref", "media_ref")
    raise ValueError(f"unknown strategy '{strategy}'")


def referential_check(
    docs: DataFrame,
    catalog: DataFrame,
    part_col: str = "part_id",
    strategy: str = "broadcast",
    media_spans: DataFrame | None = None,
    constraint_id: str = "ref:media_ref",
) -> tuple[DataFrame, DataFrame]:
    """-> (verdicts per partition, orphan violation rows)."""
    spans = media_spans if media_spans is not None else exploded_media_spans(docs, part_col)
    orphans = orphan_refs(spans, catalog, strategy)
    viol = orphans.select(F.col(part_col).alias("part_id"), F.col("media_ref"))
    return violation_verdicts(docs, viol, constraint_id, "media_ref", part_col), orphans
