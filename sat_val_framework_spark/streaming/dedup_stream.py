"""Custom stateful streaming operator: exact dedup across micro-batches.

The pattern the task brief names — ``applyInPandasWithState`` for operators
Structured Streaming lacks: emit only the FIRST document ever seen for each
content digest, with the seen-set carried in the state store across
micro-batches (so a duplicate arriving hours later is still dropped).

State design for scale: the stream is keyed by ``digest``, so state per key
is one tiny record (first doc_id + count); the state store shards by key
exactly like a shuffle — no global set, no driver state. At 100 TB you'd
additionally set a state TTL / watermark eviction policy; the operator
keeps NoTimeout here because content digests never expire logically.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.streaming._monitor import file_stream

OUTPUT_SCHEMA = "digest string, doc_id string, part_id int, dup_count long"
STATE_SCHEMA = "first_doc_id string, n_seen long"


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Grouped-map-with-state kernel: one digest key per call."""
    (digest,) = key
    if state.exists:
        first_doc, n_seen = state.get
        emit_first = False
    else:
        first_doc, n_seen = None, 0
        emit_first = True
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values("doc_id")
    if first_doc is None and len(rows):
        first_doc = rows["doc_id"].iloc[0]
    n_seen += len(rows)
    state.update((first_doc, n_seen))
    if emit_first and first_doc is not None:
        first_row = rows[rows["doc_id"] == first_doc].iloc[0]
        yield pd.DataFrame(
            {
                "digest": [digest],
                "doc_id": [first_doc],
                "part_id": [int(first_row["part_id"])],
                "dup_count": [n_seen - 1],
            }
        )


def streaming_dedup(
    spark: SparkSession,
    input_path: str,
    query_name: str = "dedup_stream",
    max_files: int = 2,
) -> StreamingQuery:
    """Stream documents from a directory; emit each distinct text digest's
    first document exactly once across ALL micro-batches."""
    stream = file_stream(spark, input_path, DOCUMENTS_SCHEMA, max_files)
    # digest the canonical text payload (text spans concatenated in order)
    digest = F.md5(
        F.concat_ws(
            "",
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
        )
    )
    keyed = stream.select(digest.alias("digest"), "doc_id", "part_id").groupBy("digest")
    deduped = keyed.applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
