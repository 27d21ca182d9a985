from sat_val_framework_spark.operators.stats import column_stats, schema_assert
from sat_val_framework_spark.operators.uniqueness import fd_check, uniqueness_check
from sat_val_framework_spark.operators.referential import referential_check
from sat_val_framework_spark.operators.drift import drift_check
from sat_val_framework_spark.operators.canonicalize import canonicalize_spans, span_seq_check
from sat_val_framework_spark.operators.gating import gate_documents

__all__ = [
    "column_stats",
    "schema_assert",
    "uniqueness_check",
    "fd_check",
    "referential_check",
    "drift_check",
    "canonicalize_spans",
    "span_seq_check",
    "gate_documents",
]
