"""B3: exact per-partition stats + B2 schema assertion vs the pandas oracle."""

from pyspark.sql import functions as F

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark import profile
from sat_val_framework_spark.operators.stats import StatSpec, column_stats, schema_assert


def test_schema_assert_flags_null_spans_per_partition(docs, oracle):
    out = schema_assert(docs, fx.DOCUMENTS_SCHEMA, not_null=("spans",)).toPandas()
    for r in out.itertuples():
        expected = oracle["null_spans_per_part"].get(r.part_id, 0)
        assert r.violation_count == expected, r
        assert r.status == ("FAIL" if expected else "PASS")
        assert r.rows_scanned == oracle["rows_per_part"][r.part_id]


def test_schema_assert_detects_wrong_schema(docs):
    # build a fresh StructType: .add() mutates the shared schema in place
    from pyspark.sql import types as T

    wrong = T.StructType(list(fx.DOCUMENTS_SCHEMA.fields) + [T.StructField("extra", T.StringType())])
    out = schema_assert(docs, wrong, not_null=()).toPandas()
    assert (out.status == "FAIL").all()


def test_column_stats_exact_minmax_and_nulls(docs, oracle):
    d = profile.with_n_spans(docs)
    verdicts, metrics = column_stats(d, [StatSpec("n_spans", max_null_rate=0.0, lo=1, hi=64)])
    m = metrics.toPandas().set_index("part_id")
    for p, lo in oracle["n_spans_min"].items():
        assert m.loc[p, "min_val"] == lo
        assert m.loc[p, "max_val"] == oracle["n_spans_max"][p]
        assert m.loc[p, "null_count"] == oracle["n_spans_nulls"][p]
        assert m.loc[p, "rows_scanned"] == oracle["rows_per_part"][p]
    v = verdicts.toPandas()
    for r in v.itertuples():
        nulls = oracle["n_spans_nulls"][r.part_id]
        assert r.violation_count == nulls, r
        assert r.status == ("FAIL" if nulls else "PASS")


def test_column_stats_bounds_violations(docs):
    d = profile.with_n_spans(docs)
    verdicts, _ = column_stats(d, [StatSpec("n_spans", lo=100)])  # everything out of bounds
    v = verdicts.toPandas()
    assert (v.status == "FAIL").all()
    assert v.violation_count.sum() == d.filter(F.col("n_spans").isNotNull()).count()


def test_single_fused_aggregation(docs):
    """N specs must not cause N scalar-agg scans: every scalar statistic for
    every spec rides ONE wide agg (its subtree appears once per union
    branch), plus exactly ONE bounded violator-sample pass shared by all
    specs — never a per-spec sample scan."""
    d = profile.with_n_spans(docs).withColumn("n2", F.col("n_spans") * 2)
    verdicts, _ = column_stats(d, [StatSpec("n_spans"), StatSpec("n2")])
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    # 2 union branches over the shared wide agg + 1 shared sample pass
    assert plan.count("Scan ") <= 3


def test_column_stats_all_null_partition_bounded_samples(spark):
    """Pathological input: a partition whose spec column is 100% NULL (every
    row violates). The bounded sampler must return the 10 smallest ids and
    the exact violation count — the r2-measured OOM shape was an in-agg
    collect_list buffering every violator id per partition."""
    rows = [(f"d{i:05d}", 0, None) for i in range(5000)] + [
        (f"e{i:05d}", 1, i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id string, part_id int, x int").repartition(8)
    verdicts, metrics = column_stats(df, [StatSpec("x", max_null_rate=0.0)])
    v = {r["part_id"]: r for r in verdicts.collect()}
    assert v[0]["violation_count"] == 5000
    assert v[0]["status"] == "FAIL"
    assert v[0]["sample_violations"] == [f"d{i:05d}" for i in range(10)]
    assert v[1]["violation_count"] == 0
    assert v[1]["sample_violations"] == []


def test_cardinality_profile_exact_and_approx(spark):
    from sat_val_framework_spark.operators.stats import cardinality_profile

    rows = [(i, f"d{i % 50}", f"g{i % 2}") for i in range(400)]
    df = spark.createDataFrame(rows, ["i", "d", "g"])
    exact = {r["grp"]: r["n_distinct_d"] for r in cardinality_profile(df, ["d"], "g").collect()}
    assert exact == {"g0": 25, "g1": 25}
    # HLL path: within its standard error at this tiny cardinality
    approx = {
        r["grp"]: r["n_distinct_d"]
        for r in cardinality_profile(df, ["d"], "g", approx=True).collect()
    }
    for g in exact:
        assert abs(approx[g] - exact[g]) <= max(2, 0.1 * exact[g])


def test_frequent_values_topk_deterministic(spark):
    from sat_val_framework_spark.operators.stats import frequent_values

    rows = [(v,) for v in [1] * 5 + [2] * 5 + [3] * 2 + [4]]
    df = spark.createDataFrame(rows, ["x"])
    got = [(r["value"], r["n"], r["rank"]) for r in frequent_values(df, "x", k=3).collect()]
    # ties (1 vs 2, both n=5) break on the value ascending
    assert sorted(got, key=lambda t: t[2]) == [("1", 5, 1), ("2", 5, 2), ("3", 2, 3)]


def test_frequent_values_plan_is_take_ordered_no_window(spark):
    """The heavy-hitter top-k must compile to TakeOrderedAndProject (per-task
    k-row heap, O(k) memory) — never a global unpartitioned WindowExec, which
    funnels every distinct value of the profiled column into one task
    (VERDICT r2 'What's wrong' item 1)."""
    from sat_val_framework_spark.operators.stats import frequent_values

    df = spark.createDataFrame([(v,) for v in range(100)], ["x"])
    plan = frequent_values(df, "x", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_distribution_entropy_matches_numpy(spark):
    import numpy as np

    from sat_val_framework_spark.operators.stats import distribution_entropy

    rows = [("a", "x")] * 10 + [("a", "y")] * 30 + [("b", "x")] * 20
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r["grp"]: r["entropy"] for r in distribution_entropy(df, "v", "g").collect()}
    p = np.array([10, 30]) / 40.0
    assert abs(got["a"] - round(float(-(p * np.log(p)).sum()), 6)) < 1e-9
    assert got["b"] == 0.0  # single-valued group: zero entropy (degenerate)


def test_quantile_profile_exact_matches_numpy(spark):
    """Exact path == numpy linear-interpolation percentiles (the same
    percentile_cont semantics DuckDB's quantile_cont implements)."""
    import numpy as np

    from sat_val_framework_spark.operators.stats import quantile_profile

    vals = {"a": [1.0, 2.0, 3.0, 10.0, 100.0], "b": [5.0, 5.0, 7.0]}
    rows = [(g, v) for g, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "x"])
    got = {r["grp"]: r for r in quantile_profile(df, "x", "g").collect()}
    for g, vs in vals.items():
        for p, col in [(25, "q25"), (50, "q50"), (75, "q75")]:
            assert abs(got[g][col] - round(float(np.percentile(vs, p)), 6)) < 1e-9, (g, col)
        assert got[g]["n_values"] == len(vs)


def test_quantile_profile_approx_close_and_null_handling(spark):
    """The scale path (mergeable percentile_approx sketch) lands close to
    exact; NULLs are excluded from both count and quantiles."""
    from sat_val_framework_spark.operators.stats import quantile_profile

    rows = [("a", float(i)) for i in range(1000)] + [("a", None)] * 10
    df = spark.createDataFrame(rows, "g string, x double")
    exact = quantile_profile(df, "x", "g").collect()[0]
    approx = quantile_profile(df, "x", "g", approx=True).collect()[0]
    assert exact["n_values"] == approx["n_values"] == 1000
    for col in ("q25", "q50", "q75"):
        assert abs(exact[col] - approx[col]) <= 2.0, col


def test_quantile_check_constraint_through_suite(spark, docs, catalog):
    """quantile kind end-to-end: the fixture's n_spans median sits in
    [1, 12] everywhere except the drifted partition (+4 shift); an
    all-NULL-spans partition gets a typed EmptySeriesError like drift."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    suite = CheckSuite([Check("quantile", "n_spans", {"q": 0.5, "lo": 1, "hi": 8})])
    v = run_suite(spark, docs, suite).verdicts.toPandas()
    assert set(v.constraint_id) == {"quantile:n_spans"}
    assert set(v[v.status == "FAIL"].part_id) == {fx.DRIFT_PART}
    sample = v[v.part_id == fx.DRIFT_PART].sample_violations.iloc[0]
    assert any(s.startswith("q0.5=") and ">8" in s for s in sample)

    # all-NULL partition -> typed ERROR, not a silent pass
    docs2 = docs.withColumn(
        "spans",
        F.when(F.col("part_id") == 2, F.lit(None).cast(fx.DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(F.col("spans")),
    )
    v2 = run_suite(spark, docs2, suite).verdicts.toPandas()
    row = v2[v2.part_id == 2].iloc[0]
    assert row.status == "ERROR" and row.error_kind == "EmptySeriesError"

    # config errors: missing bounds, bad q, non-numeric column
    errs = CheckSuite([Check("quantile", "n_spans", {})]).validate(docs)
    assert len(errs) == 1 and "lo/hi" in str(errs[0])
    errs = CheckSuite([Check("quantile", "doc_id", {"hi": 5})]).validate(docs)
    assert len(errs) == 1 and "must be numeric" in str(errs[0])


def test_frequent_values_null_heavy_hitter_gets_distinct_rank(spark):
    """ADVICE r3: a NULL heavy hitter must not duplicate rank 1 — NULL sorts
    first on ties (Spark's asc-nulls-first), and ranks stay a permutation."""
    from sat_val_framework_spark.operators.stats import frequent_values

    rows = [(v,) for v in ["a"] * 5 + [None] * 5 + ["b"] * 2]
    df = spark.createDataFrame(rows, "x string")
    got = {r["rank"]: (r["value"], r["n"]) for r in frequent_values(df, "x", k=3).collect()}
    # NULL (n=5) ties with 'a' (n=5): NULL first, ranks distinct
    assert got == {1: (None, 5), 2: ("a", 5), 3: ("b", 2)}


def test_outlier_fences_matches_numpy(spark):
    """Tukey fences + outside counts vs a numpy oracle, incl. NULL exclusion
    and a column with zero outliers."""
    import numpy as np

    from sat_val_framework_spark.operators.stats import outlier_fences

    rng = np.random.default_rng(7)
    a = np.concatenate([rng.normal(50, 5, 400), [500.0, -400.0, 999.0]])  # heavy tail
    b = np.linspace(0.0, 1.0, 403)  # uniform: no Tukey outliers
    rows = [(float(a[i]), float(b[i]) if i % 7 else None) for i in range(403)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = {r["col_name"]: r for r in outlier_fences(df, ["a", "b"], k=1.5).collect()}

    for col, vals in (("a", a), ("b", np.array([b[i] for i in range(403) if i % 7]))):
        q1, q3 = np.quantile(vals, 0.25), np.quantile(vals, 0.75)  # linear interp
        lo = round(q1 - 1.5 * (q3 - q1), 6)
        hi = round(q3 + 1.5 * (q3 - q1), 6)
        r = out[col]
        assert r["n_values"] == len(vals)
        assert abs(r["fence_lo"] - lo) < 1e-9 and abs(r["fence_hi"] - hi) < 1e-9
        assert r["n_low"] == int((vals < lo).sum())
        assert r["n_high"] == int((vals > hi).sum())
    # the injected extremes are certainly outside (plus any natural tail
    # points — exact counts already checked against numpy above)
    assert out["a"]["n_high"] >= 2 and out["a"]["n_low"] >= 1
    assert out["b"]["n_low"] == 0 and out["b"]["n_high"] == 0
    assert out["b"]["outlier_rate"] == 0.0

    # approx sketch path agrees on clean data at high accuracy
    approx = {r["col_name"]: r for r in
              outlier_fences(df, ["a"], k=1.5, approx=True, accuracy=100000).collect()}
    assert approx["a"]["n_low"] + approx["a"]["n_high"] >= 3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        outlier_fences(df, [])


def test_outlier_fences_exact_reads_only_the_checkpointed_histogram(spark, tmp_path):
    """r6: the exact path materializes the (col, value)->count histogram
    once (eager localCheckpoint — three consumers raced on runtime
    exchange reuse). The returned frame must derive everything from that
    checkpoint: its plan reads NO parquet source, and a source-counting
    re-read after construction would double-scan if this regressed."""
    from sat_val_framework_spark.operators.stats import outlier_fences

    src = str(tmp_path / "li")
    spark.createDataFrame(
        [(float(i % 97), float(i % 13)) for i in range(1000)], ["a", "b"]
    ).write.parquet(src)
    df = outlier_fences(spark.read.parquet(src), ["a", "b"], k=1.5)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" not in plan or "parquet" not in plan, plan
    # positive half: the checkpointed RDD is what backs the plan, so the
    # check above cannot pass vacuously if node names drift
    assert "LogicalRDD" in plan, plan
    # and the checkpointed scan really backs the result
    assert {r["col_name"] for r in df.collect()} == {"a", "b"}
