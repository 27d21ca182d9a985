"""Structured Streaming QC: micro-batched files drive the same per-partition
verdicts as the batch path."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark.streaming import (
    file_monitor,
    streaming_schema_assert,
    streaming_stats,
    streaming_suite,
)
from sat_val_framework_spark.suite import Check, CheckSuite


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    path = str(d / "docs")
    # several files so maxFilesPerTrigger yields multiple micro-batches
    fx.documents_df(spark, 2000).repartition(6).write.parquet(path)
    return path


def test_streaming_schema_assert_matches_batch(spark, stream_dir):
    q = streaming_schema_assert(spark, stream_dir, query_name="t_schema")
    q.processAllAvailable()
    q.stop()
    got = {r["part_id"]: (r["status"], r["violation_count"]) for r in spark.table("t_schema").collect()}
    batch = fx.documents_df(spark, 2000).groupBy("part_id").agg(
        F.sum(F.col("spans").isNull().cast("long")).alias("v")
    )
    exp = {r["part_id"]: ("FAIL" if r["v"] > 0 else "PASS", r["v"]) for r in batch.collect()}
    assert got == exp


def test_streaming_stats_matches_batch(spark, stream_dir):
    q = streaming_stats(spark, stream_dir, query_name="t_stats")
    q.processAllAvailable()
    q.stop()
    got = {
        r["part_id"]: (r["rows_scanned"], r["null_count"], r["min_val"], r["max_val"])
        for r in spark.table("t_stats").collect()
    }
    n_spans = F.when(F.col("spans").isNull(), F.lit(None).cast("int")).otherwise(F.size("spans"))
    batch = (
        fx.documents_df(spark, 2000)
        .select("part_id", n_spans.alias("ns"))
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("ns").isNull().cast("long")).alias("nulls"),
            F.min("ns").alias("mn"),
            F.max("ns").alias("mx"),
        )
    )
    exp = {r["part_id"]: (r["n"], r["nulls"], r["mn"], r["mx"]) for r in batch.collect()}
    assert got == exp


def test_streaming_drift_scores_batches(spark, stream_dir, tmp_path, baseline):
    sink = str(tmp_path / "drift_sink")
    suite = CheckSuite(
        [
            Check("drift_ks", "n_spans", {"threshold": 0.15}),
            Check("drift_psi", "n_spans", {"threshold": 0.2}),
        ]
    )
    q = streaming_suite(spark, stream_dir, sink, suite, baseline=baseline)
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(sink)
    assert rows.count() > 0
    got = rows.toPandas()
    assert {"constraint_id", "part_id", "status", "epoch_id"} <= set(got.columns)
    # per-batch drift: the drifted partition fails in at least one batch;
    # clean partitions may be noisy in tiny batches, so just assert the
    # drifted one is caught and statuses are well-formed
    import sat_val_framework_spark.fixtures as fx

    drifted = got[(got.part_id == fx.DRIFT_PART) & (got.constraint_id == "drift_psi:n_spans")]
    assert (drifted.status == "FAIL").any()
    assert set(got.status) <= {"PASS", "FAIL"}
    # stats selection: only the requested siblings emit (no made-up EMD rows)
    assert set(got.constraint_id) == {"drift_ks:n_spans", "drift_psi:n_spans"}


def test_streaming_drift_emd_stat_passthrough(spark, stream_dir, tmp_path, baseline):
    """The EMD sibling flows through streaming_suite: same kernel, same
    per-epoch semantics, and the drifted partition (+4 spans shift = EMD ~4
    bins) fails the 1.0-bin threshold in at least one batch."""
    import sat_val_framework_spark.fixtures as fx

    sink = str(tmp_path / "emd_sink")
    suite = CheckSuite([Check("drift_emd", "n_spans", {"threshold": 1.0})])
    q = streaming_suite(spark, stream_dir, sink, suite, baseline=baseline)
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(sink).toPandas()
    assert set(got.constraint_id) == {"drift_emd:n_spans"}
    drifted = got[got.part_id == fx.DRIFT_PART]
    assert (drifted.status == "FAIL").any()


def test_streaming_foreach_batch_checkpoints(spark, stream_dir, tmp_path):
    sink = str(tmp_path / "verdict_sink")
    q = streaming_schema_assert(
        spark, stream_dir, query_name="t_fb", foreach_batch_path=sink
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(sink)
    assert rows.count() > 0
    assert {"constraint_id", "part_id", "status", "epoch_id"} <= set(rows.columns)


def test_streaming_sessionize_matches_batch_closed_sessions(spark, tmp_path):
    """Stateful streaming sessionization == batch sessionize for every
    CLOSED session, including sessions spanning micro-batch boundaries (the
    still-open last session per user stays in state by design)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sat_val_framework_spark.functions.asof import sessionize
    from sat_val_framework_spark.streaming.session_stream import streaming_sessionize

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    # NON-UTC on purpose: ts is TIMESTAMP_NTZ end-to-end (input parquet,
    # state, output schema), so stream==batch must hold in ANY session TZ —
    # the ADVICE r2 fragility was an NTZ->TIMESTAMP cast inside the operator
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        base = pd.Timestamp("2024-03-01 00:00:00")
        rows = []
        for u in range(6):
            t = base + pd.Timedelta(minutes=u)
            for s in range(3):  # 3 sessions per user
                for i in range(4):  # 4 events each, 5 min apart (< 30min gap)
                    rows.append((u, t.to_pydatetime()))
                    t += pd.Timedelta(minutes=5)
                t += pd.Timedelta(minutes=45)  # gap > 30 min closes the session
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz").orderBy("ts")
        # feed in 3 time-ordered files so sessions span micro-batches
        src = str(tmp_path / "sess_src")
        # slice as python rows with an explicit NTZ schema: a pandas
        # round-trip without one would infer TIMESTAMP and localize the
        # naive datetimes through the (deliberately non-UTC) session TZ
        srows = sorted(((r["user_id"], r["ts"]) for r in ev.collect()), key=lambda x: x[1])
        n = len(srows)
        import os

        os.makedirs(src, exist_ok=True)
        for i, chunk in enumerate([srows[: n // 3], srows[n // 3 : 2 * n // 3], srows[2 * n // 3 :]]):
            spark.createDataFrame(chunk, "user_id long, ts timestamp_ntz").coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src}/f{i}")
        # stream each file dir in order through ONE query via a glob source
        flat = str(tmp_path / "sess_flat")
        os.makedirs(flat, exist_ok=True)
        import glob
        import shutil

        import time as _time

        now = _time.time()
        for i in range(3):
            part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
            dst = f"{flat}/{i:02d}.parquet"
            shutil.copy(part, dst)
            # the file source orders by modification time: pin strictly
            # increasing mtimes so micro-batches arrive in event-time order
            os.utime(dst, (now + i * 10, now + i * 10))
        q = streaming_sessionize(spark, flat, ev.schema, gap_seconds=1800, query_name="sess_t")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["session_start"], r["session_end"])
            for r in spark.table("sess_t").collect()
        }
        batch = (
            sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
            .groupBy("user_id", "session_seq")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            )
        )
        last_seq = {r["user_id"]: r["m"] for r in batch.groupBy("user_id").agg(F.max("session_seq").alias("m")).collect()}
        expected = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["session_start"], r["session_end"])
            for r in batch.collect()
            if r["session_seq"] < last_seq[r["user_id"]]  # open sessions stay in state
        }
        assert got == expected and len(expected) == 6 * 2  # 2 closed sessions/user
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_streaming_profile_matches_batch_and_catches_degeneracy(spark, stream_dir, tmp_path):
    """Per-micro-batch profile constraint: healthy stream batches PASS; a
    degenerate batch (column collapsed to a constant) FAILS within its own
    epoch; verdict rows reuse the batch profile_check semantics."""
    suite = CheckSuite(
        [Check("profile", "n_spans", {"max_top_share": 0.9, "min_entropy": 0.5})]
    )
    sink = str(tmp_path / "profile_sink")
    q = streaming_suite(spark, stream_dir, sink, suite)
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(sink).collect()
    assert rows and all(r["constraint_id"] == "profile:n_spans" for r in rows)
    assert all(r["status"] == "PASS" for r in rows)  # healthy fixture
    assert {"epoch_id"} <= set(spark.read.parquet(sink).columns)

    # degenerate stream: every doc collapsed to ONE span
    bad_dir = str(tmp_path / "bad_docs")
    bad = fx.documents_df(spark, 500, n_parts=2).withColumn(
        "spans", F.when(F.col("spans").isNotNull(), F.slice("spans", 1, 1))
    )
    bad.coalesce(1).write.parquet(bad_dir)
    sink2 = str(tmp_path / "profile_sink2")
    q2 = streaming_suite(spark, bad_dir, sink2, suite)
    q2.processAllAvailable()
    q2.stop()
    rows2 = spark.read.parquet(sink2).collect()
    assert rows2 and all(r["status"] == "FAIL" for r in rows2)
    assert all(any(s.startswith("top_share=1.0>") for s in r["sample_violations"]) for r in rows2)


def test_streaming_contamination_catches_leak_per_epoch(spark, tmp_path):
    """A leaked reference doc arriving mid-stream is flagged in its own
    micro-batch; clean batches append nothing; semantics == the batch
    cross_contamination composition."""
    from sat_val_framework_spark.functions.dedup import cross_contamination

    schema = "doc_id long, text string"
    reference = spark.createDataFrame(
        [(900, "held out benchmark question about rivers and mountains"),
         (901, "another eval item regarding oceans and tides today")],
        schema,
    )
    src = str(tmp_path / "incoming")
    clean = spark.createDataFrame(
        [(1, "ordinary web document about cooking pasta at home"),
         (2, "release notes for a software project version two")], schema)
    leaky = spark.createDataFrame(
        [(3, "held out benchmark question about rivers and mountains"),
         (4, "yet another unremarkable training document here")], schema)
    clean.coalesce(1).write.mode("append").parquet(src)
    leaky.coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "contamination_sink")
    q = file_monitor(
        spark, src, spark.createDataFrame([], schema).schema, sink,
        lambda b: cross_contamination(b, reference, threshold=0.8), max_files=1,
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(sink).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [("3", "900")]
    assert rows[0]["jaccard"] == 1.0


def test_streaming_categorical_drift_monitor(spark, stream_dir, tmp_path, baseline_cat):
    """Per-epoch categorical drift vs the configured kind baseline: the
    clean fixture passes every partition each epoch; a degenerate batch
    (all-image spans) fails in ITS epoch."""
    suite = CheckSuite([Check("drift_categorical", "kind", {"tv_threshold": 0.1})])
    sink = str(tmp_path / "cat_sink")
    q = streaming_suite(spark, stream_dir, sink, suite, baseline_cat=baseline_cat)
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(sink)
    assert rows.count() > 0
    assert {r["constraint_id"] for r in rows.select("constraint_id").distinct().collect()} == {
        "drift_categorical:kind"
    }
    assert {r["status"] for r in rows.select("status").distinct().collect()} == {"PASS"}

    # degenerate batch: every span collapses to 'image' -> tv vs 0.7/0.1/0.2
    # baseline = 0.9 -> FAIL in its epoch
    bad_dir = str(tmp_path / "bad_docs")
    bad = fx.documents_df(spark, 400).withColumn(
        "spans",
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                F.lit("image").alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    bad.coalesce(1).write.parquet(bad_dir)
    sink2 = str(tmp_path / "cat_sink2")
    q2 = streaming_suite(spark, bad_dir, sink2, suite, baseline_cat=baseline_cat)
    q2.processAllAvailable()
    q2.stop()
    got = spark.read.parquet(sink2)
    st = {r["part_id"]: r["status"] for r in got.collect()}
    assert st and all(s == "FAIL" for s in st.values())


def test_streaming_ngram_decontam_matches_batch(spark, tmp_path):
    """Streaming exact n-gram decontamination (last suite kind without a
    streaming twin): a doc quoting a reference 5-gram is flagged in ITS
    micro-batch with the same n_hits the batch operator reports; clean
    batches append nothing; cumulative stream output == batch ngram_hits
    on the union of all batches (per-doc operator, no cross-batch state)."""
    from sat_val_framework_spark.functions.dedup import ngram_hits

    schema = "doc_id long, text string"
    reference = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy dog"),
         (901, "a held out benchmark item about tides")],
        schema,
    )
    src = str(tmp_path / "incoming_ng")
    clean = spark.createDataFrame(
        [(1, "ordinary web document about cooking pasta at home"),
         (2, "release notes for a software project version two")], schema)
    # doc 3 quotes a verbatim 5-gram span of ref 900 inside unrelated text
    leaky = spark.createDataFrame(
        [(3, "he said the quick brown fox jumps over and ran away"),
         (4, "yet another unremarkable training document here")], schema)
    clean.coalesce(1).write.mode("append").parquet(src)
    leaky.coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "ngram_sink")
    q = file_monitor(
        spark, src, spark.createDataFrame([], schema).schema, sink,
        lambda b: ngram_hits(b, reference, n=5).filter("n_hits > 0"), max_files=1,
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(sink).collect()
    assert [r["doc_id"] for r in rows] == [3]

    # cumulative stream == batch operator on the union of all batches
    batch = {
        (r["doc_id"], r["n_hits"])
        for r in ngram_hits(clean.union(leaky), reference, n=5)
        .filter("n_hits > 0").collect()
    }
    assert {(r["doc_id"], r["n_hits"]) for r in rows} == batch


def test_streaming_distinct_monitor(spark, tmp_path):
    """Per-epoch distinct-count verdicts == the batch distinct_bound_check
    on the same rows (one code path); the collapsed partition FAILs in its
    epoch, the healthy one PASSes, the span-less one gets the typed ERROR."""
    from sat_val_framework_spark.operators.stats import distinct_bound_check
    from sat_val_framework_spark.profile import with_n_spans

    span = lambda i: ("text", "w", None, i)  # noqa: E731
    rows = (
        # part 0: span counts 2/3 only -> 2 distinct < lo=3 -> FAIL
        [(f"a{i}", 0, [span(j) for j in range(2 + i % 2)]) for i in range(10)]
        # part 1: counts 2/3/30 -> 3 distinct -> PASS
        + [(f"b{i}", 1, [span(j) for j in range(2 + i % 2)]) for i in range(18)]
        + [(f"B{i}", 1, [span(j) for j in range(30)]) for i in range(2)]
        # part 2: no spans -> zero observations -> typed ERROR
        + [(f"c{i}", 2, None) for i in range(2)]
    )
    docs = spark.createDataFrame(rows, fx.DOCUMENTS_SCHEMA)
    in_dir = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(in_dir)

    sink = str(tmp_path / "distinct_sink")
    suite = CheckSuite([Check("distinct", "n_spans", {"lo": 3, "approx": False})])
    q = streaming_suite(spark, in_dir, sink, suite)
    q.processAllAvailable()
    q.stop()

    got = {r["part_id"]: r for r in spark.read.parquet(sink).collect()}
    assert got[0]["status"] == "FAIL" and "distinct=2<3" in got[0]["sample_violations"][0]
    assert got[1]["status"] == "PASS"
    assert got[2]["status"] == "ERROR" and got[2]["error_kind"] == "EmptySeriesError"

    batch = {
        r["part_id"]: r
        for r in distinct_bound_check(
            with_n_spans(docs), "n_spans", lo=3, approx=False
        ).collect()
    }
    for p, r in got.items():
        for f in ("constraint_id", "status", "rows_scanned", "violation_count",
                  "sample_violations", "error_kind"):
            assert r[f] == batch[p][f], (p, f)


def test_streaming_outlier_monitor(spark, tmp_path):
    """Per-epoch Tukey outlier-rate verdicts == the batch outlier_check on
    the same rows (one code path); the injected-tail partition FAILs in its
    epoch, the clean one PASSes, the span-less one gets the typed ERROR."""
    from sat_val_framework_spark.operators.stats import outlier_check
    from sat_val_framework_spark.profile import with_n_spans

    span = lambda i: ("text", "w", None, i)  # noqa: E731
    rows = (
        [(f"a{i}", 0, [span(j) for j in range(2 + i % 2)]) for i in range(10)]
        + [(f"b{i}", 1, [span(j) for j in range(2 + i % 2)]) for i in range(18)]
        + [(f"B{i}", 1, [span(j) for j in range(30)]) for i in range(2)]
        + [(f"c{i}", 2, None) for i in range(2)]
    )
    docs = spark.createDataFrame(rows, fx.DOCUMENTS_SCHEMA)
    in_dir = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(in_dir)

    sink = str(tmp_path / "outlier_sink")
    suite = CheckSuite([Check("outlier", "n_spans", {"max_outlier_rate": 0.05})])
    q = streaming_suite(spark, in_dir, sink, suite)
    q.processAllAvailable()
    q.stop()

    got = {r["part_id"]: r for r in spark.read.parquet(sink).collect()}
    assert got[0]["status"] == "PASS"
    assert got[1]["status"] == "FAIL" and got[1]["violation_count"] == 2
    assert got[2]["status"] == "ERROR" and got[2]["error_kind"] == "EmptySeriesError"

    # one code path: the streamed verdicts equal the batch operator's
    batch = {
        r["part_id"]: r
        for r in outlier_check(
            with_n_spans(docs), "n_spans", max_outlier_rate=0.05
        ).collect()
    }
    for p, r in got.items():
        for f in ("constraint_id", "status", "rows_scanned", "violation_count",
                  "sample_violations", "error_kind"):
            assert r[f] == batch[p][f], (p, f)


def test_streaming_span_grammar_monitor(spark, tmp_path):
    """Per-epoch span-grammar verdicts == the batch span_grammar_check on
    the same rows (one code path): the clean epoch PASSes, the epoch whose
    ingest regressed (unknown kind, ref-less media span, shuffled offsets)
    FAILs with per-doc rule annotations."""
    from sat_val_framework_spark.operators.span_grammar import span_grammar_check

    clean = [
        (f"a{i}", 0, [("text", "w", None, 0), ("image", None, "m-1", 1)])
        for i in range(8)
    ]
    broken = (
        [(f"b{i}", 0, [("video", None, "m-2", 0)]) for i in range(2)]
        + [(f"c{i}", 1, [("image", None, None, 0)]) for i in range(2)]
        + [(f"d{i}", 1, [("text", "w", None, 3), ("text", "w", None, 1)]) for i in range(2)]
        + [(f"e{i}", 1, [("text", "w", None, 0)]) for i in range(4)]
    )
    in_dir = tmp_path / "sg_in"
    in_dir.mkdir()
    df_clean = spark.createDataFrame(clean, fx.DOCUMENTS_SCHEMA)
    df_broken = spark.createDataFrame(broken, fx.DOCUMENTS_SCHEMA)
    df_clean.coalesce(1).write.parquet(str(in_dir / "f0"))
    df_broken.coalesce(1).write.parquet(str(in_dir / "f1"))

    sink = str(tmp_path / "sg_sink")
    suite = CheckSuite(
        [Check("span_grammar", "spans", {"allowed_kinds": ["text", "image", "audio"]})]
    )
    q = streaming_suite(spark, str(in_dir / "*"), sink, suite, max_files=1)
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).collect()
    # one epoch per file -> (epoch, part) verdicts; epochs arrive in either
    # order, so key by the verdict content instead of epoch_id
    by_docs = {}
    for r in out:
        by_docs[(r["part_id"], r["rows_scanned"])] = r
    clean_v = by_docs[(0, 8)]
    assert clean_v["status"] == "PASS" and clean_v["violation_count"] == 0
    bad0 = by_docs[(0, 2)]
    assert bad0["status"] == "FAIL" and bad0["violation_count"] == 2
    assert "b0:bad_kind" in bad0["sample_violations"]
    bad1 = by_docs[(1, 8)]
    assert bad1["status"] == "FAIL" and bad1["violation_count"] == 4
    assert "c0:bad_media" in bad1["sample_violations"]
    assert "d0:bad_order" in bad1["sample_violations"]

    # field-equal to the batch operator on each epoch's rows
    for df, keys in ((df_clean, [(0, 8)]), (df_broken, [(0, 2), (1, 8)])):
        batch = {
            r["part_id"]: r
            for r in span_grammar_check(df, ["text", "image", "audio"]).collect()
        }
        for p, n in keys:
            got = by_docs[(p, n)]
            for f in ("constraint_id", "status", "rows_scanned",
                      "violation_count", "sample_violations"):
                assert got[f] == batch[p][f], (p, f)


def _two_file_stream(spark, in_dir, n_docs):
    """Fixture docs split into two parquet files by partition (parts 0-1,
    parts 2-3): with max_files=1 each file is one epoch, and an epoch's
    part ids tell which file it read."""
    docs = fx.documents_df(spark, n_docs, n_parts=4)
    files = [docs.filter("part_id < 2"), docs.filter("part_id >= 2")]
    for i, df in enumerate(files):
        df.coalesce(1).write.parquet(str(in_dir / f"f{i}"))
    return files


def test_streaming_suite_text_len_matches_run_suite_per_epoch(spark, tmp_path):
    """profile:text_len and outlier:text_len take the runner's derived
    text_len series per epoch: each epoch's verdicts are field-equal to
    run_suite on that epoch's file, and each epoch runs under its own run
    id, so reading the sink as a verdict table keeps every epoch."""
    from sat_val_framework_spark.checkpoint import read_checkpoint
    from sat_val_framework_spark.runner import run_suite

    suite = CheckSuite(
        [
            # thresholds set so both epochs mix PASS and FAIL partitions
            Check("profile", "text_len", {"max_top_share": 0.013, "min_entropy": 0.5}),
            Check("outlier", "text_len", {"max_outlier_rate": 0.0, "k": 0.5}),
        ]
    )
    files = _two_file_stream(spark, tmp_path / "tl_in", 800)
    sink = str(tmp_path / "tl_sink")
    q = streaming_suite(spark, str(tmp_path / "tl_in" / "*"), sink, suite, max_files=1)
    q.processAllAvailable()
    assert q.exception() is None
    q.stop()

    fields = ("constraint_id", "status", "rows_scanned", "violation_count",
              "sample_violations", "error_kind")

    def keyed(rows):
        return {(r["constraint_id"], r["part_id"]): tuple(r[f] for f in fields) for r in rows}

    expected = [keyed(run_suite(spark, df, suite).verdicts.collect()) for df in files]
    out = spark.read.parquet(sink).collect()
    epochs: dict = {}
    for r in out:
        epochs.setdefault(r["epoch_id"], []).append(r)
    assert len(epochs) == 2
    seen_files = set()
    for epoch_id, rows in epochs.items():
        assert {r["run_id"].rsplit("-", 1)[1] for r in rows} == {str(epoch_id)}
        got = keyed(rows)
        i = 0 if max(p for _, p in got) < 2 else 1
        assert got == expected[i], epoch_id
        seen_files.add(i)
    assert seen_files == {0, 1}
    assert {r["status"] for r in out} == {"PASS", "FAIL"}
    assert read_checkpoint(spark, sink).count() == len(out)


def test_streaming_suite_check_error_is_a_verdict_not_a_dead_stream(spark, tmp_path):
    """A check that raises on a micro-batch (a drift baseline with a
    zero-width first bin) yields ERROR/MissingInputError rows in every
    epoch, the suite's other check still lands its verdicts, and the query
    keeps running (errors are values, not control flow)."""
    base = spark.createDataFrame(
        [("n_spans", 0, 5.0, 5.0, 0.5), ("n_spans", 1, 5.0, 10.0, 0.5)],
        ["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"],
    )
    suite = CheckSuite(
        [
            Check("drift_ks", "n_spans", {"threshold": 0.15}),
            Check("schema_assert", params={"not_null": ["spans"]}),
        ]
    )
    files = _two_file_stream(spark, tmp_path / "err_in", 400)
    sink = str(tmp_path / "err_sink")
    q = streaming_suite(
        spark, str(tmp_path / "err_in" / "*"), sink, suite, baseline=base, max_files=1
    )
    q.processAllAvailable()
    assert q.exception() is None
    q.stop()

    out = spark.read.parquet(sink).collect()
    epochs = {r["epoch_id"] for r in out}
    assert len(epochs) == 2
    for e in epochs:
        drift = [r for r in out if r["epoch_id"] == e and r["constraint_id"] == "drift_ks:n_spans"]
        schema = [r for r in out if r["epoch_id"] == e and r["constraint_id"] == "schema_assert"]
        assert drift and all(
            r["status"] == "ERROR" and r["error_kind"] == "MissingInputError" for r in drift
        )
        assert {r["part_id"] for r in drift} == {r["part_id"] for r in schema}
        assert schema and all(r["status"] in ("PASS", "FAIL") for r in schema)
    assert sum(r["rows_scanned"] for r in out if r["constraint_id"] == "schema_assert") == sum(
        df.count() for df in files
    )


def test_streaming_suite_releases_each_epochs_cache(spark, docs, tmp_path):
    """An epoch whose checks fuse persists the shared passes' wide frames;
    each epoch releases them once its rows are written, so the session
    cache is empty after the stream drains."""
    suite = CheckSuite(
        [
            Check("schema_assert", params={"not_null": ["spans"]}),
            Check("stats", "n_spans", {"max_null_rate": 0.0, "lo": 1, "hi": 64}),
        ]
    )
    in_dir = tmp_path / "cache_in"
    src = fx.documents_df(spark, 600, n_parts=3)
    for p in range(3):
        src.filter(F.col("part_id") == p).coalesce(1).write.parquet(str(in_dir / f"f{p}"))
    sink = str(tmp_path / "cache_sink")
    spark.catalog.clearCache()
    try:
        q = streaming_suite(spark, str(in_dir / "*"), sink, suite, max_files=1)
        q.processAllAvailable()
        assert q.exception() is None
        q.stop()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        out = spark.read.parquet(sink).collect()
        assert len({r["epoch_id"] for r in out}) == 3 and len(out) == 6
    finally:
        docs.cache()  # the session-wide fixture frame, uncached by clearCache
