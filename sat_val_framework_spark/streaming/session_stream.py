"""Custom stateful streaming operator: gap-based sessionization.

The batch twin is ``functions.asof.sessionize`` (lag + cumulative sum);
streams cannot use windows over unbounded history, so the session cursor
(start, last event ts, count, seq) lives in the state store, keyed by user —
``applyInPandasWithState``, the same pattern as the streaming dedup.

A session CLOSES when an event arrives more than ``gap`` after the previous
one; the closed session is emitted and the cursor restarts. State per key is
one tiny record; the store shards by key like a shuffle — no driver state.
Production would add an event-time timeout + watermark so idle users' last
sessions eventually flush and state is evicted; this sandbox feeds files in
event-time order (like the dedup stream) and keeps NoTimeout, so the final
still-open session per user intentionally stays in state (tested against
the batch sessionizer minus each user's last session).

TZ independence: ts is TIMESTAMP_NTZ in the source and the output, but NO
timestamp ever crosses the Python boundary — the applyInPandasWithState
serializer localizes pandas timestamps with the session timezone on the way
out, silently shifting NTZ wall clocks under a non-UTC session (the exact
CLAUDE.md gotcha; measured +5h under America/New_York). Instead the NTZ is
flattened to wall-clock seconds JVM-side with component arithmetic
(datediff + hour/minute/second — no epoch cast), the UDF works on int64,
and the output longs are rebuilt into TIMESTAMP_NTZ with make_timestamp_ntz
— both directions session-TZ-independent by construction (second
resolution, which gap-based sessionization needs anyway).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sat_val_framework_spark.streaming._monitor import file_stream

# the Python boundary carries ONLY longs (see module docstring)
UDF_OUTPUT_SCHEMA = (
    "user_id long, session_seq long, n_events long, start_s long, end_s long"
)
STATE_SCHEMA = "start_s long, last_s long, n_events long, session_seq long"


def _ntz_to_secs(ts: Column) -> Column:
    """TIMESTAMP_NTZ -> wall-clock seconds since 1970-01-01 00:00:00, from
    date diff + clock components: session-TZ-independent (epoch casts on
    timestamps are not)."""
    day = F.datediff(ts.cast("date"), F.lit("1970-01-01").cast("date"))
    return (
        day.cast("long") * 86400 + F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    ).cast("long")


def _secs_to_ntz(s: Column) -> Column:
    """Wall-clock seconds -> TIMESTAMP_NTZ via make_timestamp_ntz on the
    split-out components — the TZ-independent inverse of _ntz_to_secs."""
    days = (s / 86400).cast("long")
    sod = s - days * 86400
    d = F.date_add(F.lit("1970-01-01").cast("date"), days.cast("int"))
    return F.make_timestamp_ntz(
        F.year(d),
        F.month(d),
        F.dayofmonth(d),
        (sod / 3600).cast("int"),
        ((sod % 3600) / 60).cast("int"),
        (sod % 60).cast("int"),
    )


def _session_fn(gap_seconds: int):
    gap = int(gap_seconds)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            # the cursor of the currently-OPEN session (seq matches the batch
            # sessionizer's 1-based numbering)
            start_s, last_s, n_events, seq = state.get
        else:
            start_s = last_s = None
            n_events, seq = 0, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts = rows["ts_s"].sort_values().astype("int64").to_numpy()
        closed: list[tuple] = []
        for t in ts:
            if last_s is None:
                seq, start_s, n_events = 1, int(t), 0
            elif t - last_s > gap:
                closed.append((user_id, seq, n_events, start_s, last_s))
                seq, start_s, n_events = seq + 1, int(t), 0
            last_s = int(t)
            n_events += 1
        state.update((int(start_s), int(last_s), int(n_events), int(seq)))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "session_seq", "n_events", "start_s", "end_s"],
            )
            yield out.astype("int64")

    return fn


def streaming_sessionize(
    spark: SparkSession,
    input_path: str,
    schema,
    gap_seconds: int = 1800,
    query_name: str = "session_stream",
    max_files: int = 1,
) -> StreamingQuery:
    """Stream (user_id, ts) events from a directory; emit each CLOSED
    session exactly once, sessions spanning micro-batches included."""
    stream = file_stream(spark, input_path, schema, max_files).select(
        "user_id", _ntz_to_secs(F.col("ts")).alias("ts_s")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_seconds),
        outputStructType=UDF_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = sessions.select(
        "user_id",
        "session_seq",
        "n_events",
        _secs_to_ntz(F.col("start_s")).alias("session_start"),
        _secs_to_ntz(F.col("end_s")).alias("session_end"),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
