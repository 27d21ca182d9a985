"""Sources: the scan layer (SURVEY.md B1).

Realizes the reference's loading contracts — ``from_qualified_file`` /
``from_collocation_event_and_parameters`` (/root/reference/sat_val_framework/
implement.py:109-115) — as declared-schema reads with lineage columns
(RawMetadata contract, implement.py:81-86). Every reader:

- enforces DOCUMENTS_SCHEMA (never infers) so the schema_assert check has a
  ground truth,
- can attach lineage (`source_file`) via input_file_name(),
- pushes partition predicates into the scan (partition pruning is the
  engine's event-identity mechanism; a RawDataEvent = a partition id).

Iceberg is the production catalog; its jars are not in this sandbox image,
so ``read_iceberg_table`` degrades with a clear error (import-try contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA


def _with_lineage(df: DataFrame, lineage: bool) -> DataFrame:
    return df.withColumn("source_file", F.input_file_name()) if lineage else df


def read_documents(
    spark: SparkSession,
    path: str,
    part_ids: list[int] | None = None,
    lineage: bool = False,
) -> DataFrame:
    """Parquet scan with declared schema; ``part_ids`` becomes a pushed-down
    partition predicate (the A5 'event + parameters' load shape)."""
    df = spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
    if part_ids is not None:
        df = df.filter(F.col("part_id").isin(part_ids))
    return _with_lineage(df, lineage)


def read_iceberg_table(
    spark: SparkSession, table: str, snapshot_id: str | None = None
) -> DataFrame:
    """Production path: Iceberg catalog table (time-travel by snapshot for
    reproducible re-validation). The Iceberg runtime jars are not in this
    sandbox image — fail with instructions rather than mysteriously."""
    try:
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", snapshot_id)
        return reader.load(table)
    except Exception as e:  # pragma: no cover - no iceberg jars in sandbox
        raise RuntimeError(
            "Iceberg runtime not on the classpath. Add "
            "org.apache.iceberg:iceberg-spark-runtime and a catalog config "
            "(spark.sql.catalog.*) to spark-submit, then retry."
        ) from e
