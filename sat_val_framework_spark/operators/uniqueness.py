"""B4: key uniqueness via salted two-level hash-aggregate.

Contract: the reference asserts invariants at construction time
(/root/reference/sat_val_framework/implement.py:103,106-107); the north rule
names doc_id uniqueness with explicit skew handling.

Plan shape (scale rationale): a single ``groupBy(key).count()`` hash-
partitions every occurrence of a key onto one reducer — a pathologically hot
key (billions of copies of one doc_id at 10^12-doc scale) overwhelms it.
The two-level form first combines within each input split
(``spark_partition_id()`` as the salt, so the salt is free — no extra
column shuffle dependency and results stay deterministic because counts are
additive), then re-aggregates the per-salt partial counts: the hot key
reaches the final reducer as at most #splits rows, not #occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.verdicts import violation_verdicts


def _key_list(key: str | list[str]) -> list[str]:
    """'doc_id' -> ['doc_id']; 'a,b' or ['a','b'] -> ['a','b'] — composite
    uniqueness keys (e.g. (source, doc_id) or (doc_id, snapshot)); the A3
    invariant contract (implement.py:106-107) generalized to key tuples."""
    if isinstance(key, str):
        return [k.strip() for k in key.split(",")] if "," in key else [key]
    return list(key)


def duplicate_keys(df: DataFrame, key: str | list[str] = "doc_id") -> DataFrame:
    """Key (tuples) occurring more than once, with total counts.

    This IS the salted two-level aggregate, expressed so Spark executes it
    optimally: the physical plan is HashAggregate(partial_count per input
    split) -> Exchange -> HashAggregate(final count) — the input split is
    the salt, and a hot key leaves each mapper as ONE partial row. Writing
    the salt level explicitly (groupBy(key, spark_partition_id()) then
    re-aggregating) forces a SECOND exchange and measured 2x slower at 12M
    docs; partial aggregation already provides the level-one combine.
    Composite keys shuffle on the full tuple hash — MORE uniform than any
    single component, so the skew story only improves.
    """
    keys = _key_list(key)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def fd_violations(
    df: DataFrame, determinant: str | list[str], dependent: str
) -> DataFrame:
    """Functional-dependency profile: determinant groups mapping to MORE
    than one distinct dependent value (uniqueness generalized from "key
    occurs once" to "key determines column" — the A3 invariant contract,
    implement.py:106-107; e.g. doc_id -> source, (granule, version) ->
    checksum).

    One hash-agg: count_distinct plans as Spark's two-phase partial-distinct
    aggregate (map-side dedup of (determinant, dependent) pairs), so a hot
    determinant crosses the shuffle once per DISTINCT dependent value, not
    once per row. NULL dependents are ignored by count_distinct — a NULL
    can't contradict a dependency (SQL FD semantics); an all-NULL group has
    n_dependent=0 and never flags. Rows with a NULL determinant component
    are excluded entirely: a NULL determines nothing, and (review finding)
    the fd_check attribution equi-join would silently drop the NULL group
    anyway — excluding it here keeps the profile and verdict surfaces in
    agreement."""
    det = _key_list(determinant)
    nn = df
    for c in det:
        nn = nn.where(F.col(c).isNotNull())
    return (
        nn.groupBy(*det)
        .agg(
            F.count_distinct(F.col(dependent)).alias("n_dependent"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_dependent") > 1)
    )


def parse_fd_spec(spec: str) -> tuple[list[str], str]:
    """'a,b->c' -> (['a','b'], 'c') — the suite-config form of an FD.

    Dotted (nested) columns are rejected: ``Check.constraint_id`` truncates
    at the last dot while ``fd_check`` embeds the raw spec, and a mismatch
    makes checkpoint resume re-run the check forever (the CLAUDE.md
    constraint-id gotcha — enforced here rather than documented)."""
    if "->" not in spec:
        raise ValueError(f"fd spec must be 'determinant->dependent', got {spec!r}")
    det, dep = spec.split("->", 1)
    dets = [k.strip() for k in det.split(",") if k.strip()]
    if not dets or not dep.strip():
        raise ValueError(f"fd spec must be 'determinant->dependent', got {spec!r}")
    if any("." in c for c in [*dets, dep]):
        raise ValueError(
            f"fd spec columns must be dot-free top-level columns, got {spec!r} "
            "(dotted paths break constraint-id parity with Check.constraint_id)"
        )
    return dets, dep.strip()


def fd_check(
    df: DataFrame,
    spec: str,
    part_col: str = "part_id",
    attribution: str = "broadcast",
) -> tuple[DataFrame, DataFrame]:
    """-> (verdicts per partition, violation rows) for the FD
    ``determinant -> dependent`` ('a,b->c' spec form).

    Same global-check shape as ``uniqueness_check`` (violating determinant
    groups span partitions): one partial-distinct hash-agg finds broken
    groups, then an EXPLICITLY broadcast join-back attributes each of their
    rows to its partition (the SMJ-vs-broadcast lesson measured at 12M:
    6.3s -> 3.8s; ``attribution='merge'`` is the escape hatch for a
    pathological violating set)."""
    dets, dep = parse_fd_spec(spec)
    viol_groups = fd_violations(df, dets, dep)
    build = F.broadcast(viol_groups) if attribution == "broadcast" else viol_groups
    viol_key = (
        F.col(dets[0]).cast("string")
        if len(dets) == 1
        else F.concat_ws("|", *[F.col(k).cast("string") for k in dets])
    )
    viol_rows = df.join(build, dets, "inner").select(
        F.col(part_col).alias("part_id"), viol_key.alias("violation_key"), F.col("n_dependent")
    )
    # constraint_id embeds the RAW spec: it must equal Check('fd', spec)'s
    # constraint_id or checkpoint resume re-runs forever (CLAUDE.md gotcha;
    # use dot-free top-level columns in specs)
    return violation_verdicts(df, viol_rows, f"fd:{spec}", part_col=part_col), viol_rows


def uniqueness_check(
    df: DataFrame,
    key: str | list[str] = "doc_id",
    part_col: str = "part_id",
    attribution: str = "broadcast",
) -> tuple[DataFrame, DataFrame]:
    """-> (verdicts per partition, violation rows).

    A row is a violation when its key (tuple) occurs >1 times anywhere in
    the table (duplicates span partitions), attributed to the partition
    holding it. ``key`` may be a list or comma-joined string for composite
    uniqueness; the violation_key sample is then the '|'-joined tuple.

    The attribution join-back is broadcast EXPLICITLY: left to Catalyst it
    plans a SortMergeJoin (the agg output's size is unknown at plan time)
    and AQE cannot rescue it — by the time the dup-agg stage finishes, the
    probe side's 12M-row shuffle is already scheduled. Measured at 12M docs:
    SMJ 6.3s vs explicit broadcast 3.8s. The dup set is bounded by the
    violation count (healthy tables: tiny); for a pathological table where
    duplicates exceed broadcast capacity pass ``attribution='merge'``.
    """
    keys = _key_list(key)
    key = ",".join(keys)  # canonical id suffix; matches Check.constraint_id
    dups = duplicate_keys(df, keys)
    build = F.broadcast(dups) if attribution == "broadcast" else dups
    viol_key = (
        F.col(keys[0])  # original type preserved for the single-key path
        if len(keys) == 1
        else F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    )
    viol_rows = df.join(build, keys, "inner").select(
        F.col(part_col).alias("part_id"), viol_key.alias("violation_key"), F.col("dup_count")
    )
    return violation_verdicts(df, viol_rows, f"unique:{key}", part_col=part_col), viol_rows


def incremental_unique_check(
    new_docs: DataFrame,
    key_store: DataFrame,
    key: str | list[str] = "doc_id",
    part_col: str = "part_id",
    attribution: str = "broadcast",
    constraint_id: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (verdicts per batch partition, violation rows, store increment).

    Cross-snapshot uniqueness for an ingest increment WITHOUT rescanning
    the corpus — closing ``validate_increment``'s stated global-constraint
    gap (snapshots.py): a batch row violates when its key (tuple) already
    exists in the PERSISTED key index, or occurs more than once within the
    batch. The already-validated corpus contributes only its distinct-key
    index (one slim column set, append-only), the same store pattern as
    ``dedup.incremental_neardup_pairs``'s signature index.

    Plan shape at 10^12 stored keys: the store is the STREAMED probe side
    of a left-semi join whose build side is the batch's distinct keys
    (the small side); the matched keys come back bounded by |batch keys ∩
    store| — tiny for a healthy ingest — and are broadcast onto the batch
    rows together with the within-batch duplicate set (same explicit-
    broadcast rationale as ``uniqueness_check``; pass
    ``attribution='merge'`` for a pathological all-duplicate batch).

    The store increment is the batch's distinct keys NOT already present —
    append it to the index after the batch commits (idempotent by
    construction: re-running the batch finds its keys present and appends
    nothing... and flags every row, which is why the increment is appended
    only after the batch COMMITS, not after validation).
    """
    keys = _key_list(key)
    kid = ",".join(keys)
    batch_keys = new_docs.select(*keys).distinct()
    # explicit broadcast of the batch keys: left to Catalyst the semi join
    # plans SMJ, which SHUFFLES the corpus-sized store on every batch — the
    # one shape this operator exists to avoid. Broadcast keeps the store
    # map-side streamed; 'merge' is the escape hatch for a batch whose
    # distinct keys exceed broadcast capacity (then one store shuffle is
    # the honest cost).
    probe = F.broadcast(batch_keys) if attribution == "broadcast" else batch_keys
    hit_keys = key_store.select(*keys).join(probe, keys, "left_semi").distinct()
    dups = duplicate_keys(new_docs, keys)
    hit_b = F.broadcast(hit_keys) if attribution == "broadcast" else hit_keys
    dup_b = F.broadcast(dups) if attribution == "broadcast" else dups
    viol_key = (
        F.col(keys[0])
        if len(keys) == 1
        else F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    )
    viol_rows = (
        new_docs.join(hit_b.withColumn("__in_store", F.lit(True)), keys, "left")
        .join(dup_b, keys, "left")
        .filter(F.coalesce(F.col("__in_store"), F.lit(False)) | F.col("dup_count").isNotNull())
        .select(
            F.col(part_col).alias("part_id"),
            viol_key.alias("violation_key"),
            F.coalesce(F.col("__in_store"), F.lit(False)).alias("in_store"),
            F.coalesce(F.col("dup_count"), F.lit(1)).alias("dup_count"),
        )
    )
    verdicts = violation_verdicts(
        new_docs, viol_rows, constraint_id or f"unique_incr:{kid}", part_col=part_col
    )
    increment = batch_keys.join(hit_keys, keys, "left_anti")
    return verdicts, viol_rows, increment
