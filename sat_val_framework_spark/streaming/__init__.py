from sat_val_framework_spark.streaming._monitor import file_monitor, streaming_suite
from sat_val_framework_spark.streaming.dedup_stream import streaming_dedup
from sat_val_framework_spark.streaming.neardup_stream import streaming_neardup
from sat_val_framework_spark.streaming.qc_stream import streaming_schema_assert, streaming_stats
from sat_val_framework_spark.streaming.session_stream import streaming_sessionize

__all__ = [
    "streaming_suite",
    "file_monitor",
    "streaming_schema_assert",
    "streaming_stats",
    "streaming_dedup",
    "streaming_sessionize",
    "streaming_neardup",
]
