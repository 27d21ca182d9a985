"""Structured Streaming variant of the QC checks.

The reference is strictly batch (SURVEY.md §1.2) and the north rule is a
batch contract, but a 100 TB ingestion pipeline validates documents AS THEY
ARRIVE; these operators re-express the eager-QC contract
(/root/reference/sat_val_framework/implement.py:100-104 — QC before the data
"exists" downstream) as streaming aggregations: a micro-batch's documents
are schema-asserted and stat-checked before the batch commits.

Both functions return a started StreamingQuery writing verdict rows to an
in-memory sink (tests) or, via ``foreach_batch_path``, appended to the same
parquet metrics table the batch runner checkpoints to — one verdict store
for both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.streaming._monitor import file_stream
from sat_val_framework_spark.verdicts import FAIL, PASS


def streaming_schema_assert(
    spark: SparkSession,
    input_path: str,
    query_name: str = "qc_schema_stream",
    foreach_batch_path: str | None = None,
) -> StreamingQuery:
    """Per-micro-batch, per-partition NOT-NULL verdicts (update mode:
    counters accumulate across batches per part_id)."""
    stream = file_stream(spark, input_path, DOCUMENTS_SCHEMA)
    agg = (
        stream.groupBy(F.col("part_id"))
        .agg(
            F.count(F.lit(1)).alias("rows_scanned"),
            F.sum(F.col("spans").isNull().cast("long")).alias("violation_count"),
        )
        .select(
            F.lit("schema_assert").alias("constraint_id"),
            "part_id",
            F.when(F.col("violation_count") > 0, F.lit(FAIL)).otherwise(F.lit(PASS)).alias("status"),
            "rows_scanned",
            "violation_count",
        )
    )
    if foreach_batch_path is not None:
        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(
                foreach_batch_path
            )

        return agg.writeStream.outputMode("update").foreachBatch(sink).queryName(query_name).start()
    return (
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name).start()
    )


def streaming_stats(
    spark: SparkSession,
    input_path: str,
    query_name: str = "qc_stats_stream",
) -> StreamingQuery:
    """Streaming per-partition n_spans stats (count / nulls / min / max) —
    the B3 shape over an unbounded source, complete mode to a memory sink."""
    stream = file_stream(spark, input_path, DOCUMENTS_SCHEMA)
    n_spans = F.when(F.col("spans").isNull(), F.lit(None).cast("int")).otherwise(F.size("spans"))
    agg = (
        stream.select("part_id", n_spans.alias("n_spans"))
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("rows_scanned"),
            F.sum(F.col("n_spans").isNull().cast("long")).alias("null_count"),
            F.min("n_spans").alias("min_val"),
            F.max("n_spans").alias("max_val"),
        )
    )
    return agg.writeStream.outputMode("complete").format("memory").queryName(query_name).start()
