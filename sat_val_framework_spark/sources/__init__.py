from sat_val_framework_spark.sources.readers import read_documents, read_iceberg_table
from sat_val_framework_spark.sources.snapshots import read_snapshot, snapshots, write_snapshot
from sat_val_framework_spark.sources.writers import (
    append_catalog_table,
    read_table,
    write_bucketed_table,
)

__all__ = [
    "read_documents",
    "read_iceberg_table",
    "write_snapshot",
    "read_snapshot",
    "snapshots",
    "write_bucketed_table",
    "read_table",
    "append_catalog_table",
]
