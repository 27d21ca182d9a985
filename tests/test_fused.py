"""run_suite fuses the checks the shared passes compute exactly; each fused
verdict must equal that check's own operator, i.e. the same check run in a
suite of its own, on the seeded fixture and on adversarial shapes."""

from functools import reduce

import pytest

from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite
from sat_val_framework_spark.suite import CheckSuite


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


def _fused_and_single(spark, docs, **inputs):
    """(fused run, its verdict keys, keys of every check run on its own —
    the per-check frames unioned and collected once)."""
    res = run_suite(spark, docs, DEFAULT_SUITE, **inputs)
    singles = [
        run_suite(spark, docs, CheckSuite([c]), **inputs).verdicts for c in DEFAULT_SUITE.checks
    ]
    single = reduce(lambda a, b: a.unionByName(b), singles)
    return res, _key(res.verdicts.collect()), _key(single.collect())


def _fractional_baseline():
    """Fractional, negative-anchored bin edges for both drift columns (the
    non-unit n_spans bins give the profile its own value counters)."""
    import pandas as pd

    rows = [("n_spans", b, -0.5 + 0.25 * b, -0.25 + 0.25 * b, 1.0 / 76) for b in range(76)]
    rows += [("text_len", b, -3.5 + 7.25 * b, 3.75 + 7.25 * b, 1.0 / 40) for b in range(40)]
    return pd.DataFrame(rows, columns=["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"])


def _assert_equal(fk, sk):
    assert set(fk) == set(sk)
    for k in sk:
        assert fk[k] == sk[k], (k, fk[k], sk[k])


def _by_cid(rows):
    return {cid: {k: v for k, v in rows.items() if k[0] == cid} for cid, _ in rows}


def test_fused_matches_modular(spark, docs, catalog, baseline, baseline_cat):
    res, fk, sk = _fused_and_single(
        spark, docs, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    assert len(res.persisted) == 1  # all 13 checks fused: one Pass A + B frame
    _assert_equal(fk, sk)


def test_fused_checkpoint_resume(spark, docs, catalog, baseline, baseline_cat, tmp_path):
    """The fused group resumes like any check: full run -> rerun is a noop;
    half-deleted checkpoint -> only missing pairs recompute, final identical."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import checkpoint as ckpt

    path = str(tmp_path / "fckpt")
    kw = dict(
        catalog=catalog, baseline=baseline, baseline_cat=baseline_cat,
        checkpoint_path=path, run_id="fr1",
    )
    run_suite(spark, docs, DEFAULT_SUITE, **kw)
    full = _key(ckpt.read_checkpoint(spark, path).collect())
    assert len(full) > 0

    again = run_suite(spark, docs, DEFAULT_SUITE, **kw)
    assert again.verdicts.count() == 0  # noop resume

    kept_rows = ckpt.read_checkpoint(spark, path).filter(F.col("part_id") < 8).collect()
    import shutil

    shutil.rmtree(path)
    spark.createDataFrame(kept_rows, ckpt.VERDICT_SCHEMA).write.parquet(path)
    recomputed = run_suite(spark, docs, DEFAULT_SUITE, **kw)
    rec = _key(recomputed.verdicts.collect())
    assert rec and all(p >= 8 for (_, p) in rec)
    final = _key(ckpt.read_checkpoint(spark, path).collect())
    assert final == full


def test_fused_resume_retries_retryable_error_pairs(
    spark, docs, catalog, baseline, baseline_cat, tmp_path
):
    """Fused resume honors the retry contract: a pair whose checkpoint row
    is a retryable ERROR (e.g. FileNotFound) is NOT done and re-runs; a
    data-inherent EmptySeriesError pair IS done (ADVICE r2)."""
    import datetime

    from sat_val_framework_spark import checkpoint as ckpt

    path = str(tmp_path / "fckpt_retry")
    ts = datetime.datetime(2024, 1, 1)
    seed = [
        ("fr2", "schema_assert", 0, "ERROR", "FileNotFoundError", None, 1, ["boom"], None, "{}", "", ts),
        ("fr2", "drift_ks:n_spans", 1, "ERROR", "EmptySeriesError", 0, 1, [], None, "{}", "", ts),
    ]
    spark.createDataFrame(seed, ckpt.VERDICT_SCHEMA).write.parquet(path)
    out = run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat, checkpoint_path=path, run_id="fr2",
    ).verdicts
    pairs = {(r["constraint_id"], r["part_id"]) for r in out.collect()}
    assert ("schema_assert", 0) in pairs  # retryable ERROR -> re-run
    assert ("drift_ks:n_spans", 1) not in pairs  # EmptySeries counts done


def test_fused_checkpoint_rows_carry_lineage(spark, docs, catalog, baseline, baseline_cat, tmp_path):
    """Every checkpoint row of a fused run carries its own check's
    params_json, the run's snapshot_id and a latency."""
    from sat_val_framework_spark import checkpoint as ckpt

    path = str(tmp_path / "fckpt_lineage")
    run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat, checkpoint_path=path, run_id="fl1", snapshot_id="s1",
    )
    rows = ckpt.read_checkpoint(spark, path).collect()
    params = {c.constraint_id: c.params_json for c in DEFAULT_SUITE.checks}
    assert {r["constraint_id"] for r in rows} == set(params)
    for r in rows:
        assert r["params_json"] == params[r["constraint_id"]], r
        assert r["snapshot_id"] == "s1" and r["latency_ms"] is not None, r


def test_fused_shares_pass_results(spark, catalog, baseline, baseline_cat):
    """The wide per-pass aggregates are persisted so every verdict family
    reads the shared result instead of re-expanding the scan subtree (the
    input is not cached, so the only in-memory scans are the passes')."""
    from sat_val_framework_spark import fixtures as fx

    verdicts = run_suite(
        spark, fx.documents_df(spark, 400), DEFAULT_SUITE, catalog=catalog, baseline=baseline,
        baseline_cat=baseline_cat,
    ).verdicts
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_single_fusible_check_runs_its_own_operator(spark):
    """One fusible check alone has no scan to share: it runs its own
    operator, with no persisted pass frame (over an uncached input)."""
    from sat_val_framework_spark import fixtures as fx

    stats = DEFAULT_SUITE.checks[1]
    assert stats.constraint_id == "stats:n_spans"
    res = run_suite(spark, fx.documents_df(spark, 400), CheckSuite([stats]))
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan and res.persisted == []


def test_fused_matches_modular_on_structural_schema_drift(
    spark, docs, catalog, baseline, baseline_cat
):
    """A structurally drifted input (extra column) must FAIL schema_assert in
    fused mode exactly like the modular operator (ADVICE r1)."""
    from pyspark.sql import functions as F

    drifted = docs.withColumn("rogue_col", F.lit(1))
    _, fk, sk = _fused_and_single(
        spark, drifted, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    _assert_equal(fk, sk)
    f_schema = {k: v for k, v in fk.items() if k[0] == "schema_assert"}
    assert f_schema and all(v[0] == "FAIL" for v in f_schema.values())


def test_fused_matches_modular_with_all_null_spans_partition(spark, catalog, baseline, baseline_cat):
    """A partition whose docs ALL have NULL spans must still get a verdict
    for EVERY constraint in fused mode (no silently-dropped pending pair)."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    base = fx.documents_df(spark, 800, n_parts=4)
    docs2 = base.withColumn(
        "spans",
        F.when(F.col("part_id") == 2, F.lit(None).cast(fx.DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(F.col("spans")),
    )
    res, fk, sk = _fused_and_single(
        spark, docs2, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    # every (constraint, partition) pair is present on BOTH paths
    expected_pairs = {(c.constraint_id, p) for c in DEFAULT_SUITE.checks for p in range(4)}
    assert set(fk) == expected_pairs
    _assert_equal(fk, sk)
    # the empty partition's drift AND profile verdicts are typed ERRORs
    # (n_spans is NULL everywhere on part 2)
    f_err = {
        r["constraint_id"]: r
        for r in res.verdicts.collect()
        if r["part_id"] == 2 and r["status"] == "ERROR"
    }
    assert set(f_err) == {
        "drift_ks:text_len", "drift_psi:text_len",
        "drift_ks:n_spans", "drift_psi:n_spans",
        "profile:n_spans", "quantile:n_spans", "drift_categorical:kind",
    }
    assert all(r["error_kind"] == "EmptySeriesError" for r in f_err.values())


def test_fused_matches_modular_with_empty_spans_partition(spark, catalog, baseline, baseline_cat):
    """A partition whose docs all have EMPTY (not NULL) span arrays: n_spans
    is 0, the span-level series are empty — every check still equals its
    own operator."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    base = fx.documents_df(spark, 800, n_parts=4)
    spans_t = fx.DOCUMENTS_SCHEMA["spans"].dataType
    docs2 = base.withColumn(
        "spans",
        F.when(F.col("part_id") == 1, F.array().cast(spans_t)).otherwise(F.col("spans")),
    )
    _, fk, sk = _fused_and_single(
        spark, docs2, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    assert {p for (_, p) in fk} == {0, 1, 2, 3}
    _assert_equal(fk, sk)


def test_fused_matches_modular_with_single_partition(spark, catalog, baseline, baseline_cat):
    """A table with one part_id: the fd check can never fail, uniqueness
    still can — fused and per-check verdicts agree."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    one_part = fx.documents_df(spark, 400, n_parts=4).withColumn("part_id", F.lit(0))
    _, fk, sk = _fused_and_single(
        spark, one_part, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    assert {p for (_, p) in fk} == {0}
    _assert_equal(fk, sk)


@pytest.mark.parametrize("bins", ["unit", "fractional"])
def test_fused_matches_modular_with_out_of_domain_n_spans(
    spark, catalog, baseline, baseline_cat, bins
):
    """A partition holding docs with 40 spans, past the fused profile
    counters (the fixture's 32 unit bins, which clamp larger values into
    the last bin, or the 32 own value counters beside fractional bins):
    profile and quantile stay equal to the checks' own operators."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    base = fx.documents_df(spark, 800, n_parts=4)
    docs2 = base.withColumn(
        "spans",
        F.when(
            (F.col("part_id") == 1) & (F.size("spans") > 0),
            F.slice(F.flatten(F.array_repeat("spans", 40)), 1, 40),
        ).otherwise(F.col("spans")),
    )
    b = baseline if bins == "unit" else spark.createDataFrame(_fractional_baseline())
    res, fk, sk = _fused_and_single(
        spark, docs2, catalog=catalog, baseline=b, baseline_cat=baseline_cat
    )
    assert len(res.persisted) == 1
    _assert_equal(fk, sk)


def test_malformed_baseline_runs_drift_checks_per_check(spark, docs, catalog, baseline, baseline_cat):
    """A baseline without bin_hi cannot give bin edges: the four drift
    checks run on their own and get ERROR rows, and every other check
    stays equal to the run with a good baseline."""
    bad = baseline.drop("bin_hi")
    inputs = dict(catalog=catalog, baseline_cat=baseline_cat)
    rows = _key(run_suite(spark, docs, DEFAULT_SUITE, baseline=bad, **inputs).verdicts.collect())
    drift = {"drift_ks:n_spans", "drift_psi:n_spans", "drift_ks:text_len", "drift_psi:text_len"}
    got = _by_cid(rows)
    for cid in drift:
        parts = got.pop(cid)
        assert len(parts) == 16 and all(v[0] == "ERROR" for v in parts.values()), cid
    good = _by_cid(
        _key(run_suite(spark, docs, DEFAULT_SUITE, baseline=baseline, **inputs).verdicts.collect())
    )
    for cid in drift:
        good.pop(cid)
    assert got == good


def test_ref_with_merge_strategy_or_foreign_catalog_runs_per_check(spark, catalog):
    """The passes broadcast the catalog, so a ref check that asks for a
    sort-merge join runs its own operator; a catalog without a media_ref
    column gives ERROR rows for ref alone."""
    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.suite import Check

    docs = fx.documents_df(spark, 400, n_parts=4)
    schema_c, stats_c = DEFAULT_SUITE.checks[0], DEFAULT_SUITE.checks[1]
    merge = Check(
        "ref", "spans.media_ref", {"dim_table_alias": "media_catalog", "strategy": "merge"}
    )
    res = run_suite(spark, docs, CheckSuite([schema_c, stats_c, merge]), catalog=catalog)
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin [media_ref" in plan and "BroadcastHashJoin [media_ref" not in plan, plan
    alone = run_suite(spark, docs, CheckSuite([merge]), catalog=catalog).verdicts
    got = _by_cid(_key(res.verdicts.collect()))
    assert got.pop("ref:media_ref") == _key(alone.collect())

    foreign = catalog.withColumnRenamed("media_ref", "ref_id")
    ref_c = DEFAULT_SUITE.checks[3]
    res = run_suite(spark, docs, CheckSuite([schema_c, stats_c, ref_c]), catalog=foreign)
    got = _by_cid(_key(res.verdicts.collect()))
    assert {v[0] for v in got.pop("ref:media_ref").values()} == {"ERROR"}
    assert {v[0] for g in got.values() for v in g.values()} <= {"PASS", "FAIL"}


def test_profile_constraint_fails_on_degenerate_column_both_paths(
    spark, catalog, baseline, baseline_cat
):
    """A column collapsed to a constant must FAIL the profile constraint
    (top_share=1 > 0.9, entropy=0 < 0.5) with the SAME verdict rows fused
    and on its own — threshold logic is one shared builder."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    base = fx.documents_df(spark, 400, n_parts=2)
    # every non-null doc gets exactly one span -> n_spans == 1 everywhere
    one = base.withColumn(
        "spans", F.when(F.col("spans").isNotNull(), F.slice("spans", 1, 1))
    )
    res, fk, sk = _fused_and_single(
        spark, one, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    _assert_equal(fk, sk)
    prof = {r["part_id"]: r for r in res.verdicts.collect() if r["constraint_id"] == "profile:n_spans"}
    assert set(prof) == {0, 1}
    for r in prof.values():
        assert r["status"] == "FAIL" and r["violation_count"] == 2
        assert any(s.startswith("top_share=1.0>") for s in r["sample_violations"])
        assert any(s.startswith("entropy=") for s in r["sample_violations"])


def test_zero_mass_baseline_category_runs_per_check(spark, docs, catalog, baseline, baseline_cat):
    """Advice r4: a ref_frac=0 baseline row would put 0*log(0) = NaN into
    the fused js counters while the modular path's when(q>0) guard skips
    the term. Such a baseline stops only drift_categorical:kind from
    fusing: it gets its own operator's verdicts, and every other check
    stays equal to the run with a good baseline."""
    from pyspark.sql import functions as F

    bad = baseline_cat.unionByName(
        baseline_cat.limit(1).select(
            F.col("col_name"), F.lit("video").alias("value"), F.lit(0.0).alias("ref_frac")
        )
    )
    inputs = dict(catalog=catalog, baseline=baseline)
    res = run_suite(spark, docs, DEFAULT_SUITE, baseline_cat=bad, **inputs)
    assert not any(c.startswith("ck_") for c in res.persisted[0].columns)
    got = _by_cid(_key(res.verdicts.collect()))
    cat = DEFAULT_SUITE.checks[11]
    assert cat.constraint_id == "drift_categorical:kind"
    alone = run_suite(spark, docs, CheckSuite([cat]), baseline_cat=bad, **inputs).verdicts
    assert got.pop("drift_categorical:kind") == _key(alone.collect())
    good = _by_cid(
        _key(run_suite(spark, docs, DEFAULT_SUITE, baseline_cat=baseline_cat, **inputs).verdicts.collect())
    )
    good.pop("drift_categorical:kind")
    assert got == good


def test_zero_width_baseline_bin_runs_per_check(spark, docs, catalog, baseline, baseline_cat):
    """A zero-width first text_len bin stops only the two text_len drift
    checks from fusing: they run on their own and get ERROR /
    MissingInputError rows with baseline_edges' message (not a
    DIVIDE_BY_ZERO at collect time); every other check stays equal to the
    run with a good baseline."""
    bpd = baseline.toPandas()
    first = (bpd.col_name == "text_len") & (bpd.bin_id == 0)
    bpd.loc[first, "bin_hi"] = bpd.loc[first, "bin_lo"]
    inputs = dict(catalog=catalog, baseline_cat=baseline_cat)
    res = run_suite(spark, docs, DEFAULT_SUITE, baseline=bpd, **inputs)
    assert not any(c.startswith("h_tl_") for c in res.persisted[0].columns)
    rows = res.verdicts.collect()
    tl = [r for r in rows if r["constraint_id"].endswith(":text_len")]
    assert {r["constraint_id"] for r in tl} == {"drift_ks:text_len", "drift_psi:text_len"}
    assert len(tl) == 32
    for r in tl:
        assert (r["status"], r["error_kind"]) == ("ERROR", "MissingInputError")
        assert "bin width for column 'text_len'" in r["sample_violations"][0]
    got = _by_cid(_key(r for r in rows if not r["constraint_id"].endswith(":text_len")))
    good = _by_cid(
        _key(
            r
            for r in run_suite(spark, docs, DEFAULT_SUITE, baseline=baseline, **inputs).verdicts.collect()
            if not r["constraint_id"].endswith(":text_len")
        )
    )
    assert got == good


def test_fused_matches_modular_with_fractional_edges_and_quoted_category(
    spark, docs, catalog, baseline_cat
):
    """The fused plan writes generated expressions as SQL text. Pin its
    literals: fractional, negative-anchored bin edges (DOUBLE literals,
    not DECIMAL; non-unit bins also switch the profile to its own value
    counters) and a baseline category holding a single quote (an
    outside-input string, never spliced into SQL) must give the same
    verdicts as each check on its own."""
    from pyspark.sql import functions as F

    quoted_cat = baseline_cat.unionByName(
        baseline_cat.limit(1).select(
            F.col("col_name"), F.lit("it's").alias("value"), F.lit(0.05).alias("ref_frac")
        )
    )
    res, fk, sk = _fused_and_single(
        spark,
        docs,
        catalog=catalog,
        baseline=spark.createDataFrame(_fractional_baseline()),
        baseline_cat=quoted_cat,
    )
    assert len(res.persisted) == 1
    _assert_equal(fk, sk)


def test_suite_plans_have_no_python_node(spark, docs, catalog, baseline, baseline_cat):
    """No Python worker in the suite path: DEFAULT_SUITE's executed plan
    and drift_check's run alone hold no pandas node (the drift scores and
    the exact quantile are array folds) and no scan of a Python-built RDD
    (a ``createDataFrame`` spine runs as a ParallelCollectionRDD job)."""
    from sat_val_framework_spark import profile
    from sat_val_framework_spark.operators.drift import drift_check

    suite = run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    ).verdicts
    alone, _ = drift_check(profile.n_spans_series(docs), baseline, "n_spans")
    for verdicts in (suite, alone):
        plan = verdicts._jdf.queryExecution().executedPlan().toString()
        for node in (
            "FlatMapGroupsInPandas",
            "ArrowEvalPython",
            "MapInPandas",
            "BatchEvalPython",
            "ExistingRDD",
        ):
            assert node not in plan, plan


def test_fused_group_is_one_projection_over_one_partition(
    spark, docs, catalog, baseline, baseline_cat
):
    """The fused group's verdicts are one projection over one persisted
    per-partition frame held in one Spark partition: no union of verdict
    branches, and the verdict stage runs as one task."""
    res = run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    assert [f.rdd.getNumPartitions() for f in res.persisted] == [1]
    assert res.verdicts.rdd.getNumPartitions() == 1
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan


def test_repeated_suite_compiles_no_class(spark, docs, catalog, baseline, baseline_cat):
    """A repeated run_suite(DEFAULT_SUITE) reuses every generated class:
    no per-call value (latency, timestamp) folds into generated code."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run():
        run_suite(
            spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline,
            baseline_cat=baseline_cat,
        ).verdicts.write.format("noop").mode("overwrite").save()

    run()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run()
    run()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_stats_fails_all_null_spans_partition_alone_and_fused(
    spark, catalog, baseline, baseline_cat
):
    """stats:n_spans with max_null_rate 0 FAILs a partition whose spans are
    all NULL, with one violation per doc, run alone and fused (a bare
    sum of the out-of-bounds flags is NULL there and used to PASS it)."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx

    base = fx.documents_df(spark, 800, n_parts=4)
    docs2 = base.withColumn(
        "spans",
        F.when(F.col("part_id") == 2, F.lit(None).cast(fx.DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(F.col("spans")),
    )
    stats = DEFAULT_SUITE.checks[1]
    assert stats.constraint_id == "stats:n_spans"
    kw = dict(catalog=catalog, baseline=baseline, baseline_cat=baseline_cat)
    for suite in (CheckSuite([stats]), DEFAULT_SUITE):
        (row,) = [
            r for r in run_suite(spark, docs2, suite, **kw).verdicts.collect()
            if r["constraint_id"] == "stats:n_spans" and r["part_id"] == 2
        ]
        assert (row["status"], row["rows_scanned"], row["violation_count"]) == ("FAIL", 200, 200)
