"""Count-Min sketch as a DataFrame — a mergeable frequency sketch for
streams/corpora too large for exact per-key counts.

The sketch IS a tiny DataFrame of (row, col, c) cells (depth × width,
regardless of input size): each input key increments one bucket per depth
row, bucket = hash_d(key) % width. Point estimate = min over the depth
rows — an upper bound on the true count that tightens as width grows
(classic CM guarantee: overestimate ≤ 2N/width with prob 1-2^-depth).

Why a DataFrame sketch: it MERGES by union + re-aggregate (cell-wise sum),
so per-partition sketches combine exactly like any partial aggregation —
the shape that works at 10^12 rows where a driver-side sketch object would
have to funnel every row through Python. No UDFs anywhere.

The bucket hash is md5 (``text.hex60``), which ANSI SQL reproduces bit for
bit, so the DuckDB oracle twin checks every cell, not just the guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.functions.text import hex60


def _bucket(key: Column, d: int, width: int) -> Column:
    h = hex60(F.md5(F.concat_ws(":", F.lit(d), key)))
    return F.pmod(h, F.lit(width)).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """-> (row, col, c): the sketch cells. One explode to depth rows per
    input row, then a single hash-agg — partial aggregation collapses each
    split to ≤ depth×width cells before the shuffle."""
    # NULL keys are excluded: Spark's concat_ws would silently skip a NULL
    # (hashing as str(d)) while the SQL oracle's `d || ':' || key` yields
    # NULL (row dropped). A NULL key has no frequency; drop it here and in
    # cms_estimate so both engines agree.
    df = df.filter(F.col(key_col).isNotNull())
    key = F.col(key_col).cast("string")
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"), _bucket(key, d, width).alias("col")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("rc")
    )
    return cells.groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col")).agg(
        F.count(F.lit(1)).alias("c")
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum — sketches over disjoint data merge into the sketch of
    the union (the mergeability that makes it a sketch)."""
    return (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """-> (key, cms_est): min over the depth bucket counts per queried key
    (never underestimates the true frequency). NULL probe keys are dropped
    (see cms_build: NULLs never enter the sketch)."""
    keys = keys.filter(F.col(key_col).isNotNull())
    key = F.col(key_col).cast("string")
    probes = keys.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"), _bucket(key, d, width).alias("col")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("key", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    return (
        probes.join(sketch, ["row", "col"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )


def hll_build(
    df: DataFrame,
    key_col: str,
    group_col: str | None = None,
    lgk: int = 14,
) -> DataFrame:
    """HyperLogLog sketch as DATA: -> (group?, hll: binary) via Spark 4's
    Datasketches ``hll_sketch_agg``. The cardinality complement of the CMS
    frequency sketch above, and the same scale story: a 10^12-row corpus's
    per-partition distinct-count state is a ~2^lgk-byte blob per group that
    PERSISTS (checkpoint metrics table) and MERGES (``hll_merge``) — a
    resumed run unions yesterday's sketches with today's partitions instead
    of rescanning history, which an ``approx_count_distinct`` scalar can
    never do.

    Caveat the tests encode: the serialized bytes are NOT canonical across
    aggregation orders while the sketch sits in sparse mode — compare
    ESTIMATES (order-independent: a function of the coupon set), never
    blobs. NULL keys are dropped (no identity under distinct-count; same
    contract as cms_build). Relative standard error ≈ 1.04/sqrt(2^lgk)
    (~0.8% at the default lgk=14)."""
    df = df.filter(F.col(key_col).isNotNull())
    agg = F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(lgk)).alias("hll")
    if group_col is None:
        return df.agg(agg)
    return df.groupBy(group_col).agg(agg)


def hll_merge(a: DataFrame, b: DataFrame, group_col: str | None = None) -> DataFrame:
    """Union per group: sketches over disjoint (or overlapping — HLL is
    idempotent under re-insertion) data merge into the sketch of the union.
    Same-lgk unions only: a silent lgk downgrade would loosen the error
    bound the caller sized; Spark raises otherwise."""
    u = a.unionByName(b)
    agg = F.hll_union_agg("hll", False).alias("hll")
    if group_col is None:
        return u.agg(agg)
    return u.groupBy(group_col).agg(agg)


def hll_overlap_estimate(
    a: DataFrame, b: DataFrame, group_col: str | None = None
) -> DataFrame:
    """Corpus-overlap screening from two sketch frames (hll_build output):
    -> (group?, est_a, est_b, est_union, overlap_est) with
    ``overlap_est = max(0, est_a + est_b - est_union)`` (inclusion-
    exclusion; the union comes from the pairwise ``hll_union`` of the two
    binary sketches — a pure per-row expression, no aggregation).

    The 100 TB use: estimate |train ∩ benchmark| BEFORE paying for the
    exact LSH contamination pass — two sketch builds (one scan each side)
    and a #groups-row join decide whether the expensive verify is needed
    at all, and per-group overlap localizes WHERE. Sparse-regime sketches
    give exact overlap (tested); dense mode inherits the subtraction's
    amplified relative error — a screening signal, not a verdict, which is
    why the exact n-gram/LSH kinds stay the enforcement path."""
    sel_a = ([F.col(group_col)] if group_col else []) + [F.col("hll").alias("__ha")]
    sel_b = ([F.col(group_col)] if group_col else []) + [F.col("hll").alias("__hb")]
    pa, pb = a.select(*sel_a), b.select(*sel_b)
    # outer join: a group present on one side only has overlap 0 by
    # definition, not a dropped row
    joined = (
        pa.join(pb, group_col, "full_outer") if group_col else pa.crossJoin(pb)
    )  # ungrouped frames are 1-row each: the cross join is metadata-sized
    ea = F.coalesce(F.hll_sketch_estimate("__ha"), F.lit(0)).alias("est_a")
    eb = F.coalesce(F.hll_sketch_estimate("__hb"), F.lit(0)).alias("est_b")
    union = F.when(
        F.col("__ha").isNull(), F.hll_sketch_estimate("__hb")
    ).when(
        F.col("__hb").isNull(), F.hll_sketch_estimate("__ha")
    ).otherwise(F.hll_sketch_estimate(F.hll_union("__ha", "__hb"))).alias("est_union")
    cols = ([F.col(group_col)] if group_col else []) + [ea, eb, union]
    out = joined.select(*cols)
    return out.withColumn(
        "overlap_est",
        F.greatest(F.lit(0), F.col("est_a") + F.col("est_b") - F.col("est_union")),
    )


def hll_estimate(sketches: DataFrame, group_col: str | None = None) -> DataFrame:
    """-> (group?, distinct_est: bigint). Pure projection — no shuffle; the
    sketch column is assumed already one-row-per-group (hll_build/merge)."""
    cols = ([F.col(group_col)] if group_col else []) + [
        F.hll_sketch_estimate("hll").alias("distinct_est")
    ]
    return sketches.select(*cols)
