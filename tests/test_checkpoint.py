"""B12: checkpointed verdicts + resume via left-anti join
(reference contract usable.py:51-62; no-clobber intent usable.py:52-55)."""

import shutil

from pyspark.sql import functions as F

from sat_val_framework_spark import checkpoint as ckpt
from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite
from sat_val_framework_spark.suite import Check, CheckSuite

SMALL_SUITE = CheckSuite(
    [
        Check("schema_assert", params={"not_null": ["spans"]}),
        Check("stats", "n_spans", {"max_null_rate": 0.0, "lo": 1, "hi": 64}),
        Check("unique", "doc_id"),
    ]
)


def _verdict_key(df):
    return {
        (r["constraint_id"], r["part_id"]): (r["status"], r["violation_count"])
        for r in df.collect()
    }


def test_full_run_then_resume_is_noop(spark, docs, catalog, baseline, baseline_cat, tmp_path):
    """Full DEFAULT_SUITE (incl. ref + drift) so emitted constraint_ids are
    checked against the suite's resume keys — a mismatch re-runs forever."""
    path = str(tmp_path / "ckpt")
    kw = dict(catalog=catalog, baseline=baseline, baseline_cat=baseline_cat,
              checkpoint_path=path, run_id="run-a")
    r1 = run_suite(spark, docs, DEFAULT_SUITE, **kw)
    first = _verdict_key(r1.verdicts)
    r2 = run_suite(spark, docs, DEFAULT_SUITE, **kw)
    # every (constraint, part) already done -> everything skipped
    assert r2.verdicts.count() == 0
    assert r2.skipped == sorted(first)
    final = _verdict_key(ckpt.read_checkpoint(spark, path))
    assert final == first


def test_resume_recomputes_only_missing_partitions(spark, docs, tmp_path):
    path = str(tmp_path / "ckpt")
    r1 = run_suite(spark, docs, SMALL_SUITE, checkpoint_path=path, run_id="run-b")
    full = _verdict_key(ckpt.read_checkpoint(spark, path))

    # simulate a killed run: drop the verdicts for half the partitions
    # (materialize survivors first — we are about to delete their files)
    kept_rows = ckpt.read_checkpoint(spark, path).filter(F.col("part_id") < 8).collect()
    shutil.rmtree(path)
    spark.createDataFrame(kept_rows, ckpt.VERDICT_SCHEMA).write.parquet(path)

    r2 = run_suite(spark, docs, SMALL_SUITE, checkpoint_path=path, run_id="run-b")
    recomputed = _verdict_key(r2.verdicts)
    # only partitions >= 8 recomputed (unique still scans all rows but only
    # emits pending verdicts)
    assert recomputed and all(p >= 8 for (_, p) in recomputed)
    # the fused group is partly done: skipped names exactly the kept pairs
    assert r2.skipped == sorted(k for k in full if k[1] < 8)
    final = _verdict_key(ckpt.read_checkpoint(spark, path))
    assert final == full


def test_idempotent_reads_dedupe_retried_appends(spark, docs, tmp_path):
    path = str(tmp_path / "ckpt")
    r1 = run_suite(spark, docs, SMALL_SUITE, checkpoint_path=path, run_id="run-c")
    n = len(_verdict_key(r1.verdicts))
    # a retried task double-appends the same verdicts
    reread = spark.read.parquet(path)
    reread.write.mode("append").parquet(path)
    deduped = ckpt.read_checkpoint(spark, path)
    assert deduped.count() == n


def test_violations_sink_persists_full_rows(spark, docs, catalog, tmp_path):
    """The violations table carries EVERY violating row (not just the 10
    verdict samples), keyed for triage."""
    vpath = str(tmp_path / "violations")
    suite = CheckSuite(
        [Check("unique", "doc_id"),
         Check("ref", "spans.media_ref", {"dim_table_alias": "cat", "strategy": "broadcast"})]
    )
    res = run_suite(spark, docs, suite, catalog=catalog, violations_path=vpath, run_id="v1")
    stored = ckpt.read_violations(spark, vpath)
    by_cid = {r["constraint_id"]: r["cnt"] for r in
              stored.groupBy("constraint_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    verd = {r["constraint_id"]: r["v"] for r in
            res.verdicts.groupBy("constraint_id").agg(F.sum("violation_count").alias("v")).collect()}
    assert by_cid["unique:doc_id"] == verd["unique:doc_id"] > 0
    assert by_cid["ref:media_ref"] == verd["ref:media_ref"] > 0
    sample = stored.filter(F.col("constraint_id") == "ref:media_ref").first()
    assert sample["violation_key"].startswith("m-missing-")
    assert sample["run_id"] == "v1" and sample["part_id"] is not None
    # retried write of the same (run, constraint) partition is idempotent
    n_before = stored.count()  # materialize before the overwrite invalidates the listing
    run_suite(spark, docs, suite, catalog=catalog, violations_path=vpath, run_id="v1")
    assert ckpt.read_violations(spark, vpath).count() == n_before


def test_runner_span_seq_check(spark, docs, tmp_path):
    """The runner's span_seq branch: identical expected docs -> all PASS."""
    suite = CheckSuite([Check("span_seq")])
    res = run_suite(spark, docs, suite, expected_docs=docs)
    rows = res.verdicts.collect()
    assert rows and all(r["status"] == "PASS" for r in rows)
    # id must equal the operator's emitted id or resume re-runs forever
    assert all(r["constraint_id"] == "span_seq_eq" for r in rows)
    assert CheckSuite([Check("span_seq")]).checks[0].constraint_id == "span_seq_eq"


def test_diff_runs_and_summary(spark, docs, catalog, baseline, baseline_cat, tmp_path):
    """Two runs over different inputs: diff surfaces exactly the changed
    verdicts; summary rolls up per-run health."""
    from pyspark.sql import functions as Fn

    path = str(tmp_path / "ckpt")
    kw = dict(catalog=catalog, baseline=baseline, baseline_cat=baseline_cat, checkpoint_path=path)
    run_suite(spark, docs, DEFAULT_SUITE, run_id="ra", **kw)
    # second run over a cleaned table (null-span docs dropped) -> schema and
    # stats verdicts change where those docs lived
    cleaned = docs.filter(Fn.col("spans").isNotNull())
    run_suite(spark, cleaned, DEFAULT_SUITE, run_id="rb", **kw)
    cp = ckpt.read_checkpoint(spark, path)
    diff = ckpt.diff_runs(cp, "ra", "rb").collect()
    assert diff, "expected changed verdicts between runs"
    changed = {(r["constraint_id"], r["part_id"]) for r in diff}
    # the partition that held the injected null-span docs must appear
    null_parts = {r["part_id"] for r in docs.filter(Fn.col("spans").isNull()).select("part_id").distinct().collect()}
    assert any(c == "schema_assert" and p in null_parts for c, p in changed)
    # unchanged constraint/partition pairs are absent
    assert all(r["status_a"] != r["status_b"] or r["violations_a"] != r["violations_b"] for r in diff)

    summary = {r["run_id"]: r for r in ckpt.run_summary(cp).collect()}
    assert summary["ra"]["n_fail"] > summary["rb"]["n_fail"]
    assert 0.0 < summary["ra"]["pass_rate"] < 1.0
    assert summary["ra"]["n_constraints"] == 13  # DEFAULT_SUITE incl. span_grammar
