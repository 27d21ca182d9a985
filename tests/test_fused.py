"""Fused three-scan suite must emit verdicts identical to the modular
operator-by-operator runner on the seeded fixture."""

from sat_val_framework_spark.fused import run_suite_fused
from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite


def _key(rows):
    return {
        (r["constraint_id"], r["part_id"]): (
            r["status"],
            r["rows_scanned"],
            r["violation_count"],
            tuple(r["sample_violations"] or []),
        )
        for r in rows
    }


def test_fused_matches_modular(spark, docs, catalog, baseline, baseline_cat):
    modular = run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat
    ).verdicts.collect()
    fused = run_suite_fused(spark, docs, catalog, baseline).collect()
    mk, fk = _key(modular), _key(fused)
    assert set(mk) == set(fk)
    for k in mk:
        assert mk[k] == fk[k], (k, mk[k], fk[k])


def test_fused_checkpoint_resume(spark, docs, catalog, baseline, tmp_path):
    """Fused path resumes like the modular one: full run -> rerun is a noop;
    half-deleted checkpoint -> only missing pairs recompute, final identical."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import checkpoint as ckpt

    path = str(tmp_path / "fckpt")
    kw = dict(checkpoint_path=path, run_id="fr1")
    run_suite_fused(spark, docs, catalog, baseline, **kw)
    full = _key(ckpt.read_checkpoint(spark, path).collect())
    assert len(full) > 0

    again = run_suite_fused(spark, docs, catalog, baseline, **kw)
    assert again.count() == 0  # noop resume

    kept_rows = ckpt.read_checkpoint(spark, path).filter(F.col("part_id") < 8).collect()
    import shutil

    shutil.rmtree(path)
    spark.createDataFrame(kept_rows, ckpt.VERDICT_SCHEMA).write.parquet(path)
    recomputed = run_suite_fused(spark, docs, catalog, baseline, **kw)
    rec = _key(recomputed.collect())
    assert rec and all(p >= 8 for (_, p) in rec)
    final = _key(ckpt.read_checkpoint(spark, path).collect())
    assert final == full


def test_fused_resume_retries_retryable_error_pairs(spark, docs, catalog, baseline, tmp_path):
    """Fused resume honors the same retry contract as run_suite: a pair whose
    checkpoint row is a retryable ERROR (e.g. FileNotFound) is NOT done and
    re-runs; a data-inherent EmptySeriesError pair IS done (ADVICE r2)."""
    import datetime

    from sat_val_framework_spark import checkpoint as ckpt

    path = str(tmp_path / "fckpt_retry")
    ts = datetime.datetime(2024, 1, 1)
    seed = [
        ("fr2", "schema_assert", 0, "ERROR", "FileNotFoundError", None, 1, ["boom"], None, "{}", "", ts),
        ("fr2", "drift_ks:n_spans", 1, "ERROR", "EmptySeriesError", 0, 1, [], None, "{}", "", ts),
    ]
    spark.createDataFrame(seed, ckpt.VERDICT_SCHEMA).write.parquet(path)
    out = run_suite_fused(spark, docs, catalog, baseline, checkpoint_path=path, run_id="fr2")
    pairs = {(r["constraint_id"], r["part_id"]) for r in out.collect()}
    assert ("schema_assert", 0) in pairs  # retryable ERROR -> re-run
    assert ("drift_ks:n_spans", 1) not in pairs  # EmptySeries counts done


def test_fused_shares_pass_results(spark, docs, catalog, baseline):
    """The wide per-pass aggregates are persisted so every verdict family
    reads the shared result instead of re-expanding the scan subtree."""
    verdicts = run_suite_fused(spark, docs, catalog, baseline)
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_fused_matches_modular_on_structural_schema_drift(spark, docs, catalog, baseline, baseline_cat):
    """A structurally drifted input (extra column) must FAIL schema_assert in
    fused mode exactly like the modular runner (ADVICE r1)."""
    from pyspark.sql import functions as F

    drifted = docs.withColumn("rogue_col", F.lit(1))
    modular = run_suite(
        spark, drifted, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat
    ).verdicts.collect()
    fused = run_suite_fused(spark, drifted, catalog, baseline).collect()
    mk, fk = _key(modular), _key(fused)
    m_schema = {k: v for k, v in mk.items() if k[0] == "schema_assert"}
    f_schema = {k: v for k, v in fk.items() if k[0] == "schema_assert"}
    assert m_schema == f_schema
    assert all(v[0] == "FAIL" for v in f_schema.values())


def test_fused_matches_modular_with_all_null_spans_partition(spark, catalog, baseline, baseline_cat):
    """A partition whose docs ALL have NULL spans must still get a verdict
    for EVERY constraint in fused mode (no silently-dropped pending pair)."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.fused import FUSED_CONSTRAINT_IDS

    base = fx.documents_df(spark, 800, n_parts=4)
    docs2 = base.withColumn(
        "spans",
        F.when(F.col("part_id") == 2, F.lit(None).cast(fx.DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(F.col("spans")),
    )
    modular = run_suite(
        spark, docs2, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat
    ).verdicts.collect()
    fused = run_suite_fused(spark, docs2, catalog, baseline).collect()
    mk, fk = _key(modular), _key(fused)
    # every (constraint, partition) pair is present on BOTH paths
    expected_pairs = {(cid, p) for cid in FUSED_CONSTRAINT_IDS for p in range(4)}
    assert set(fk) == expected_pairs
    assert set(mk) == expected_pairs
    for k in mk:
        assert mk[k] == fk[k], (k, mk[k], fk[k])
    # the empty partition's drift AND profile verdicts are typed ERRORs on
    # both paths (n_spans is NULL everywhere on part 2)
    f_err = {r["constraint_id"]: r for r in fused if r["part_id"] == 2 and r["status"] == "ERROR"}
    assert set(f_err) == {
        "drift_ks:text_len", "drift_psi:text_len",
        "drift_ks:n_spans", "drift_psi:n_spans",
        "profile:n_spans", "quantile:n_spans", "drift_categorical:kind",
    }
    assert all(r["error_kind"] == "EmptySeriesError" for r in f_err.values())


def test_profile_constraint_fails_on_degenerate_column_both_paths(spark, catalog, baseline, baseline_cat):
    """A column collapsed to a constant must FAIL the profile constraint
    (top_share=1 > 0.9, entropy=0 < 0.5) with the SAME verdict rows on the
    modular and fused paths — threshold logic is one shared builder."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    base = fx.documents_df(spark, 400, n_parts=2)
    # every non-null doc gets exactly one span -> n_spans == 1 everywhere
    one = base.withColumn(
        "spans", F.when(F.col("spans").isNotNull(), F.slice("spans", 1, 1))
    )
    modular = run_suite(
        spark, one, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat
    ).verdicts
    fused = run_suite_fused(spark, one, catalog, baseline)
    mk = {r["part_id"]: r for r in modular.collect() if r["constraint_id"] == "profile:n_spans"}
    fk = {r["part_id"]: r for r in fused.collect() if r["constraint_id"] == "profile:n_spans"}
    assert set(mk) == set(fk) == {0, 1}
    for p in mk:
        assert mk[p]["status"] == fk[p]["status"] == "FAIL"
        assert mk[p]["violation_count"] == fk[p]["violation_count"] == 2
        assert mk[p]["sample_violations"] == fk[p]["sample_violations"]
        assert any(s.startswith("top_share=1.0>") for s in mk[p]["sample_violations"])
        assert any(s.startswith("entropy=") for s in mk[p]["sample_violations"])


def test_fused_rejects_zero_mass_baseline_category(spark, docs, catalog, baseline, baseline_cat):
    """Advice r4: a ref_frac=0 baseline row would put 0*log(0) = NaN into
    the fused js counters while the modular path's when(q>0) guard skips
    the term — reject eagerly instead of silently diverging."""
    import pytest
    from pyspark.sql import functions as F

    bad = baseline_cat.unionByName(
        baseline_cat.limit(1).select(
            F.col("col_name"), F.lit("video").alias("value"), F.lit(0.0).alias("ref_frac")
        )
    )
    with pytest.raises(ValueError, match="ref_frac"):
        run_suite_fused(
            spark, docs, catalog=catalog, baseline=baseline, baseline_cat=bad
        )


def test_fused_rejects_zero_width_baseline_bin(spark, docs, catalog, baseline):
    """A zero-width first bin is rejected while the plan is built, with the
    same ValueError the modular baseline_edges raises — not as a
    DIVIDE_BY_ZERO when the verdicts are collected."""
    import pytest

    bpd = baseline.toPandas()
    first = (bpd.col_name == "text_len") & (bpd.bin_id == 0)
    bpd.loc[first, "bin_hi"] = bpd.loc[first, "bin_lo"]
    with pytest.raises(ValueError, match="bin width for column 'text_len'"):
        run_suite_fused(spark, docs, catalog, bpd)


def test_fused_matches_modular_with_fractional_edges_and_quoted_category(
    spark, docs, catalog, baseline_cat
):
    """The fused plan writes generated expressions as SQL text. Pin its
    literals: fractional, negative-anchored bin edges (DOUBLE literals,
    not DECIMAL; non-unit bins also switch the profile to its own value
    counters) and a baseline category holding a single quote (an
    outside-input string, never spliced into SQL) must give the same
    verdicts as the modular runner."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = [("n_spans", b, -0.5 + 0.25 * b, -0.25 + 0.25 * b, 1.0 / 76) for b in range(76)]
    rows += [("text_len", b, -3.5 + 7.25 * b, 3.75 + 7.25 * b, 1.0 / 40) for b in range(40)]
    bpd = pd.DataFrame(rows, columns=["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"])
    frac_baseline = spark.createDataFrame(bpd)
    quoted_cat = baseline_cat.unionByName(
        baseline_cat.limit(1).select(
            F.col("col_name"), F.lit("it's").alias("value"), F.lit(0.05).alias("ref_frac")
        )
    )
    modular = run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=frac_baseline,
        baseline_cat=quoted_cat
    ).verdicts.collect()
    fused = run_suite_fused(
        spark, docs, catalog, bpd, baseline_cat=quoted_cat.toPandas()
    ).collect()
    mk, fk = _key(modular), _key(fused)
    assert set(mk) == set(fk)
    for k in mk:
        assert mk[k] == fk[k], (k, mk[k], fk[k])


def test_fused_plan_has_one_drift_stage(spark, docs, catalog, baseline):
    """Both drift histograms share ONE grouped-map stage, and the quantile
    kernel has a single consumer: the plan holds exactly two
    FlatMapGroupsInPandas nodes."""
    verdicts = run_suite_fused(spark, docs, catalog, baseline)
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    kernels = [ln for ln in plan.splitlines() if "FlatMapGroupsInPandas" in ln]
    assert len(kernels) == 2, plan
    assert sum("kernel(part_id" in ln and "col_name" in ln for ln in kernels) == 1, kernels
