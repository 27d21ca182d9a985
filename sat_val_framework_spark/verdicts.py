"""Verdict/violation row model — the errors-as-values contract.

The reference converts exceptions into *returned values* via its
``return_caught_errors`` decorator (/root/reference/sat_val_framework/
implement.py:23-56). The Spark-native equivalent: a failing check never
raises on an executor; every check emits one verdict row per
(constraint_id, part_id) plus deterministic sample violation strings.
Schema follows FIXTURES.md §4 (qc_metrics).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PASS = "PASS"
FAIL = "FAIL"
ERROR = "ERROR"

# typed error vocabulary — the engine twin of the reference's
# ``LoadingErrors = FileNotFoundError | InvalidSubsetError`` domain alias
# (implement.py:18-20): a check that CANNOT evaluate yields a status=ERROR
# verdict row tagged with one of these kinds, never a driver raise.
ERR_FILE_NOT_FOUND = "FileNotFoundError"
ERR_MISSING_INPUT = "MissingInputError"
ERR_ANALYSIS = "AnalysisError"
ERR_EMPTY_SERIES = "EmptySeriesError"
ERR_EXECUTION = "ExecutionError"

# environment-caused errors: the pair is NOT counted done, so a resumed run
# retries it after the fix. EmptySeriesError is data-inherent — retrying is
# deterministic sameness, so it counts as done (else resume re-runs forever,
# the exact failure mode the no-clobber checkpoint exists to prevent).
RETRYABLE_ERROR_KINDS = frozenset(
    {ERR_FILE_NOT_FOUND, ERR_MISSING_INPUT, ERR_ANALYSIS, ERR_EXECUTION}
)

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error_kind", T.StringType(), True),
        T.StructField("rows_scanned", T.LongType(), True),
        T.StructField("violation_count", T.LongType(), True),
        T.StructField("sample_violations", T.ArrayType(T.StringType()), True),
        T.StructField("latency_ms", T.DoubleType(), True),
        T.StructField("params_json", T.StringType(), True),
        T.StructField("snapshot_id", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def error_kind_of(exc: BaseException) -> str:
    """Map an exception to the typed error vocabulary (implement.py:45-53
    unpacks typed payloads from AssertionError the same way: by kind)."""
    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # pragma: no cover
        AnalysisException = ()  # type: ignore[assignment]
    if isinstance(exc, FileNotFoundError):
        return ERR_FILE_NOT_FOUND
    if isinstance(exc, AnalysisException):
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg:
            return ERR_FILE_NOT_FOUND
        return ERR_ANALYSIS
    if isinstance(exc, (ValueError, KeyError, TypeError)):
        return ERR_MISSING_INPUT
    return ERR_EXECUTION


def error_verdicts(
    parts: DataFrame, constraint_id: str, error_kind: str, message: str
) -> DataFrame:
    """One status=ERROR verdict row per pending partition for a check that
    could not evaluate (errors-as-values, implement.py:23-56): the failure
    is data in the metrics table — resumable, diffable, alertable — instead
    of a stack trace that kills the other 10^6 partitions' run."""
    return parts.select(
        F.lit(constraint_id).alias("constraint_id"),
        F.col("part_id"),
        F.lit(ERROR).alias("status"),
        F.lit(error_kind).alias("error_kind"),
        F.lit(None).cast("long").alias("rows_scanned"),
        F.lit(1).cast("long").alias("violation_count"),
        F.array(F.lit(message[:500])).alias("sample_violations"),
    )

# columns a check itself must produce; the runner stamps the lineage rest
CHECK_OUTPUT_COLS = ["constraint_id", "part_id", "status", "rows_scanned", "violation_count", "sample_violations"]

EMPTY_SAMPLES_SQL = "CAST(array() AS array<string>)"


def _d(x: float) -> str:
    """A SQL DOUBLE literal: ``repr`` round-trips every finite double, and
    the ``D`` suffix keeps ``0.1`` from parsing as a DECIMAL (inf/nan have
    no literal form and go through a CAST)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def verdict_rows(frame: DataFrame, *rows: Column) -> DataFrame:
    """``frame`` -> one row per input row and struct in ``rows``, the
    struct's fields as columns. The rows go through ``inline`` so that a
    literal ``constraint_id`` stays opaque to the optimizer: projected as a
    plain literal it folds ``finalize_verdicts``' per-check lookups into
    per-call literals, and every call compiles its verdict stage anew."""
    return frame.select(F.inline(F.array(*rows)))


def finalize_verdicts(
    check_out: DataFrame,
    run_id: str,
    params: dict[str, str],
    snapshot_id: str = "",
    latency_ms: float | None = None,
) -> DataFrame:
    """Stamp lineage columns (RawMetadata contract, implement.py:81-86) onto a
    check's raw output and conform it to VERDICT_SCHEMA. ``params`` maps
    each constraint id in ``check_out`` to its check's params_json.

    The per-check values are looked up by each row's own constraint id in a
    map that Spark folds into one literal passed by reference. A bare
    numeric or timestamp literal would be written into the generated code,
    and the latency and the timestamp change on every call, so each run
    would compile every verdict stage afresh."""

    def by_check(value) -> Column:
        pairs = [x for cid in params for x in (F.lit(cid), value(cid))]
        return F.create_map(*pairs)[F.col("constraint_id")]

    error_kind = (
        F.col("error_kind") if "error_kind" in check_out.columns
        else F.lit(None).cast("string")
    )
    return check_out.select(
        F.lit(run_id).alias("run_id"),
        F.col("constraint_id"),
        F.col("part_id").cast("int").alias("part_id"),
        F.col("status"),
        error_kind.alias("error_kind"),
        F.col("rows_scanned").cast("long").alias("rows_scanned"),
        F.col("violation_count").cast("long").alias("violation_count"),
        F.col("sample_violations"),
        by_check(lambda _: F.lit(latency_ms).cast("double")).alias("latency_ms"),
        by_check(lambda cid: F.lit(params[cid])).alias("params_json"),
        F.lit(snapshot_id).alias("snapshot_id"),
        by_check(lambda _: F.current_timestamp()).alias("ts"),
    )


def status_col(violation_count: Column) -> Column:
    return F.when(violation_count > 0, F.lit(FAIL)).otherwise(F.lit(PASS))


def sample_col(violation_expr: Column, cond: Column, limit: int = 10) -> Column:
    """Deterministic violation samples: collect under ``cond``, sort, take
    first ``limit`` — stable across task order / parallelism levels
    (SURVEY.md §7 hard part (d)).

    Bound caveat: collect_list gathers EVERY violator in the group before
    the slice, so per-group memory is O(violators in the group). Safe ONLY
    when the group is an input split — i.e. inside the two-level pattern:
    ``groupBy(part, spark_partition_id())`` with this expression, then
    ``groupBy(part)`` with ``merged_samples`` — where the collect is bounded
    by split size (spark.sql.files.maxPartitionBytes), not by data skew.
    Violation-row frames use ``bounded_samples`` (window top-k) instead."""
    return F.slice(
        F.sort_array(F.collect_list(F.when(cond, violation_expr))), 1, limit
    )


def merged_samples(col_name: str, limit: int = 10) -> Column:
    """Level 2 of the two-level bounded sample: merge per-split sample
    arrays (each already sliced to ``limit`` smallest) into the global
    ``limit`` smallest. Correct because every split contributed its own
    ``limit`` smallest, so the global smallest are in the union; memory is
    O(n_splits_per_part × limit), metadata-sized."""
    return F.slice(F.sort_array(F.flatten(F.collect_list(F.col(col_name)))), 1, limit)


def bounded_samples(
    rows: DataFrame, part_col: str | list[str], key_col: str, limit: int = 10
) -> DataFrame:
    """-> (part_id[, extra group cols], violation_count, sample_violations):
    exact per-group count + the ``limit`` smallest keys, via ONE window sort
    instead of a collect_list — memory stays O(limit) per group no matter
    how many violations there are (1.2M copies of one hot key collected
    2.5× slower and would OOM a reducer at 10^12 scale; measured r2). Same
    output as the sample_col formulation — 10 smallest keys, deterministic.

    ``part_col`` may be a list for composite grouping (e.g. (part_id,
    col_name) in the multi-spec stats sampler); a single string keeps the
    historical ``part_id`` output alias."""
    cols = [part_col] if isinstance(part_col, str) else list(part_col)
    wp = Window.partitionBy(*cols)
    wo = wp.orderBy(key_col)
    group = (
        [F.col(cols[0]).alias("part_id")]
        if len(cols) == 1
        else [F.col(c) for c in cols]
    )
    return (
        rows.withColumn("__n", F.count(F.lit(1)).over(wp))
        .withColumn("__rn", F.row_number().over(wo))
        .filter(F.col("__rn") <= limit)
        .groupBy(*group, F.col("__n").alias("violation_count"))
        .agg(F.sort_array(F.collect_list(F.col(key_col).cast("string"))).alias("sample_violations"))
    )


def violation_verdicts(
    scanned: DataFrame,
    viol: DataFrame,
    constraint_id: str,
    key_col: str = "violation_key",
    part_col: str = "part_id",
) -> DataFrame:
    """The verdict rows of every flag-the-rows check: one per partition of
    ``scanned`` (its ``part_col``), with the exact violation count and
    samples from ``viol``, a (part_id, ``key_col``) violator frame; a
    partition with no violators PASSes with 0 and an empty sample array.

    The samples come from ``bounded_samples``, not a collect_list: the
    violator frame can be the whole partition (a viral duplicate key, a
    missing catalog subset that orphans every media span, a gate that
    rejects en masse), and collect-then-slice would buffer all of it in one
    agg buffer (measured: a 1.2M-copy hot key = 2.5x suite slowdown)."""
    per_part = scanned.groupBy(F.col(part_col).alias("part_id")).agg(
        F.count(F.lit(1)).alias("rows_scanned")
    )
    viol_agg = bounded_samples(viol, "part_id", key_col)
    n_viol = F.coalesce(F.col("violation_count"), F.lit(0))
    return per_part.join(viol_agg, "part_id", "left").select(
        F.lit(constraint_id).alias("constraint_id"),
        F.col("part_id"),
        status_col(n_viol).alias("status"),
        F.col("rows_scanned"),
        n_viol.cast("long").alias("violation_count"),
        F.coalesce(F.col("sample_violations"), F.array().cast("array<string>")).alias(
            "sample_violations"
        ),
    )


def summarize_verdicts(verdicts: DataFrame, group_col: str = "part_id") -> DataFrame:
    """Suite-report rollup: one row per constraint with group counts by
    status, pass rate, violation totals, and the WORST group (most
    violations; ties -> lowest group id, so the report is deterministic).
    The per-run summary a suite owner reads before the verdict detail —
    the reference prints this by iterating results (usable.py's run loop);
    here it is ONE hash-agg over the verdict frame (#constraints rows out,
    partial aggregation map-side), so it costs nothing extra at any scale.

    Works on any frame with (constraint_id, <group_col>, status,
    violation_count) — run_suite verdicts, checkpointed history, or the
    mini-suite driver queries. ERROR groups count in n_error and n_groups
    but not in the violation totals' semantics (their violation_count is
    the error marker, not a measured count) — they are excluded from
    total/max/worst."""
    v = F.col("violation_count")
    is_err = F.col("status") == ERROR
    measured = F.when(~is_err, v)  # NULL for ERROR rows: ignored by sum/max
    return (
        verdicts.groupBy("constraint_id")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("status") == PASS).cast("long")).alias("n_pass"),
            F.sum((F.col("status") == FAIL).cast("long")).alias("n_fail"),
            F.sum(is_err.cast("long")).alias("n_error"),
            F.coalesce(F.sum(measured), F.lit(0)).alias("total_violations"),
            F.coalesce(F.max(measured), F.lit(0)).alias("max_violations"),
            F.min_by(
                F.col(group_col).cast("string"),
                F.struct((-F.coalesce(measured, F.lit(0))).alias("nv"), F.col(group_col).cast("string").alias("g")),
            ).alias("worst_group"),
        )
        .withColumn("pass_rate", F.round(F.col("n_pass") / F.col("n_groups"), 6))
        # a fully-passing (or all-ERROR) constraint has no worst group
        .withColumn(
            "worst_group",
            F.when(F.col("total_violations") > 0, F.col("worst_group")),
        )
    )
