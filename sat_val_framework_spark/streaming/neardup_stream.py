"""Custom stateful streaming operator: near-duplicate LSH across
micro-batches (VERDICT r3 #6 — the streaming twin of the batch
MinHash-LSH candidate pipeline).

A near-dup arriving hours after its twin must still pair with it, so the
state store carries BAND BUCKETS — per (band_id, band_key) key, the list of
member doc_ids — not full signatures: membership is all candidate
generation needs, and it is exactly the quantity the bucket-size cap
bounds. The signature itself is computed per row as a pure projection
(``minhash_signature_col``) because a groupBy signature aggregate upstream
of ``applyInPandasWithState`` would chain two stateful stages.

Semantics — UNCAPPED case (tested equal to the batch path): the union
over arrival order of (new member x existing members) plus within-batch
pairs IS the set of all unordered pairs per bucket — so, as long as no
bucket exceeds ``max_bucket_size``, the stream's cumulative output equals
``lsh_candidate_pairs`` on the union of all batches (modulo the global
.distinct(): a pair agreeing on several bands is emitted once per band
here; downstream set-union or a distinct-on-read collapses it).

Scale/state bound: ``max_bucket_size`` caps state per key. Once a bucket
is full, later arrivals pair ONLY with the bucket's hub (its minimum
member) and are NOT appended — state per key never exceeds the cap and a
boilerplate family degrades to hub-star pairs in the spirit of
``capped_bucket_pairs``'s star mode (connectivity preserved for
clustering). The CAPPED semantics deliberately DIVERGE from the batch
path (advice r4): arrival order decides who got in before the cap, so the
first ``max_bucket_size`` arrivals do full all-pairs among themselves and
the hub is the minimum of those FIRST arrivals — batch star mode instead
all-pairs nothing and hubs on the bucket's GLOBAL minimum id. An
order-independent cap would need the stream to re-sort history it has, by
design, already discarded. The state store shards by bucket key like a
shuffle — no global structure, no driver state (pairs sink to parquet via
``sink_path``; the memory sink is a test-only option).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.functions.dedup import band_keys_col, minhash_signature_col
from sat_val_framework_spark.streaming._monitor import file_stream

OUTPUT_SCHEMA = "band_id int, band_key string, doc_a string, doc_b string"
STATE_SCHEMA = "members array<string>"


def _neardup_fn(max_bucket_size: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band_id, band_key = key
        members: list[str] = list(state.get[0]) if state.exists else []
        rows = pd.concat(list(pdfs), ignore_index=True)
        out_a, out_b = [], []
        # deterministic within-batch order; duplicates (re-delivery) dropped
        for doc in sorted(set(rows["doc_id"]) - set(members)):
            if len(members) < max_bucket_size:
                for m in members:
                    a, b = (m, doc) if m < doc else (doc, m)
                    out_a.append(a)
                    out_b.append(b)
                members.append(doc)
            else:
                hub = min(members)
                a, b = (hub, doc) if hub < doc else (doc, hub)
                out_a.append(a)
                out_b.append(b)
        state.update((members,))
        if out_a:
            yield pd.DataFrame(
                {
                    "band_id": band_id,
                    "band_key": band_key,
                    "doc_a": out_a,
                    "doc_b": out_b,
                }
            )

    return fn


def streaming_neardup(
    spark: SparkSession,
    input_path: str,
    query_name: str = "neardup_stream",
    max_files: int = 1,
    k: int = 12,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    max_bucket_size: int = 1000,
    sink_path: str | None = None,
) -> StreamingQuery:
    """Stream documents from a directory; emit MinHash-LSH candidate pairs
    across ALL micro-batches (doc text = the doc's text spans joined by
    ' ', matching the batch pipeline's _doc_text convention). Docs with no
    tokens are dropped up front (the empty-shingle sentinel would clique
    them — same guard as cross_contamination).

    ``sink_path``: parquet sink directory (checkpoint lands beside it at
    ``<sink_path>_ckpt``) — the production path, like the other monitors'
    file sinks; executors write pairs directly, nothing accumulates on the
    driver. ``sink_path=None`` falls back to the in-memory table sink
    (driver-resident, unbounded) — TEST-ONLY (advice r4)."""
    stream = file_stream(spark, input_path, DOCUMENTS_SCHEMA, max_files)
    text = F.concat_ws(
        " ",
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
            lambda s: s["text"],
        ),
    )
    sig = minhash_signature_col(text, k, n)
    banded = (
        stream.select(F.col("doc_id"), text.alias("__text"), sig.alias("__sig"))
        .where(F.size(F.split(F.trim(F.col("__text")), r"\s+")) > 0)
        .where(F.trim(F.col("__text")) != "")
        .select(
            "doc_id", F.explode(band_keys_col(F.col("__sig"), bands, rows_per_band)).alias("b")
        )
        .select("doc_id", "b.band_id", "b.band_key")
    )
    pairs = banded.groupBy("band_id", "band_key").applyInPandasWithState(
        _neardup_fn(max_bucket_size),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if sink_path is not None:
        return (
            pairs.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_path)
            .option("checkpointLocation", sink_path + "_ckpt")
            .queryName(query_name)
            .start()
        )
    return (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
