"""The file-stream reader and the per-micro-batch scaffold every streaming
operator in this package shares.

``file_stream`` is the one reader: a parquet file stream with a declared
schema and a bounded number of files per trigger. ``file_monitor`` runs any
batch operator on each micro-batch through foreachBatch and appends its rows
(+ ``epoch_id``) to a parquet sink. ``streaming_suite`` is the per-epoch
check entry point: it runs the batch ``run_suite`` on each micro-batch, so
the derived-series rules and the errors-as-values contract live only in
``runner.py``.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.runner import run_suite
from sat_val_framework_spark.suite import CheckSuite


def file_stream(spark: SparkSession, input_path: str, schema, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
    )


def _append_epochs(
    stream: DataFrame,
    sink_path: str,
    score_fn: Callable[[DataFrame, int], tuple[DataFrame, list[DataFrame]]],
) -> StreamingQuery:
    """``score_fn`` -> (rows to append, frames it persisted); the frames are
    released once the epoch's rows are written, so a long-running stream
    does not grow the session cache by one set per epoch."""

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out, persisted = score_fn(batch_df, epoch_id)
        out.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(sink_path)
        for frame in persisted:
            frame.unpersist()

    return stream.writeStream.foreachBatch(run).start()


def file_monitor(
    spark: SparkSession,
    input_path: str,
    schema,
    sink_path: str,
    score_fn: Callable[[DataFrame], DataFrame],
    max_files: int = 4,
) -> StreamingQuery:
    """Run ``score_fn`` (a batch operator) on each micro-batch of the
    parquet file stream at ``input_path``; append its rows (+ ``epoch_id``)
    to ``sink_path``. Empty batches append nothing. This is the way to run
    any batch operator per micro-batch, e.g. ``cross_contamination`` against
    a static reference corpus."""
    stream = file_stream(spark, input_path, schema, max_files)
    return _append_epochs(stream, sink_path, lambda batch, _epoch_id: (score_fn(batch), []))


def streaming_suite(
    spark: SparkSession,
    input_path: str,
    sink_path: str,
    suite: CheckSuite,
    catalog: DataFrame | None = None,
    baseline: DataFrame | None = None,
    baseline_cat: DataFrame | None = None,
    max_files: int = 4,
) -> StreamingQuery:
    """Run ``run_suite`` on each micro-batch of the documents file stream at
    ``input_path``; append its verdict rows (+ ``epoch_id``) to
    ``sink_path``.

    The suite is validated against the stream's schema before the query
    starts, so a bad config raises here, not inside the query. A check that
    cannot evaluate on a batch yields typed ERROR rows for that epoch and
    the stream keeps running. Each epoch runs under its own run id,
    ``<stream run id>-<epoch_id>``: ``checkpoint.read_checkpoint`` dedupes
    on (run_id, constraint_id, part_id), so reading the sink as a verdict
    table keeps every epoch's rows."""
    stream = file_stream(spark, input_path, DOCUMENTS_SCHEMA, max_files)
    suite.validate_or_raise(stream)
    stream_run_id = uuid.uuid4().hex[:12]

    def score(batch: DataFrame, epoch_id: int) -> tuple[DataFrame, list[DataFrame]]:
        res = run_suite(
            batch.sparkSession,
            batch,
            suite,
            catalog=catalog,
            baseline=baseline,
            baseline_cat=baseline_cat,
            run_id=f"{stream_run_id}-{epoch_id}",
        )
        return res.verdicts, res.persisted

    return _append_epochs(stream, sink_path, score)
