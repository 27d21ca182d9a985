"""B7/B8: KS/PSI drift vs the numpy oracle; only the drifted partition fails."""

import pytest

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark import profile
from sat_val_framework_spark.operators.drift import drift_check


@pytest.mark.parametrize("col,series_fn,oracle_ks,oracle_psi", [
    ("n_spans", profile.n_spans_series, "ks_n_spans", "psi_n_spans"),
    ("text_len", profile.text_len_series, "ks_text_len", "psi_text_len"),
])
def test_scores_match_numpy_oracle(docs, baseline, oracle, col, series_fn, oracle_ks, oracle_psi):
    _, scores = drift_check(series_fn(docs), baseline, col)
    scores = scores.toPandas().set_index("part_id")
    for p, ks in oracle[oracle_ks].items():
        assert scores.loc[p, "ks"] == pytest.approx(ks, abs=1e-12)
        assert scores.loc[p, "psi"] == pytest.approx(oracle[oracle_psi][p], abs=1e-9)


@pytest.mark.parametrize("col,series_fn", [
    ("n_spans", profile.n_spans_series),
    ("text_len", profile.text_len_series),
])
def test_only_drifted_partition_fails(docs, baseline, col, series_fn):
    verdicts, _ = drift_check(series_fn(docs), baseline, col)
    v = verdicts.toPandas()
    failed = set(v[v.status == "FAIL"].part_id)
    assert failed == {fx.DRIFT_PART}
    # both statistics emitted for every partition
    assert set(v.constraint_id) == {f"drift_ks:{col}", f"drift_psi:{col}"}
    assert len(v) == 2 * fx.N_PARTS


def _numpy_oracle_inputs(docs_pd):
    """Per-partition n_spans bin counts and the baseline ref vector, binned
    with numpy from the pandas twin of the fixture (floor, clipped to
    [0, n_bins); NULL-spans docs count nowhere) — no Spark involved."""
    import numpy as np

    base = fx.baseline_stats_pandas()
    base = base[base.col_name == "n_spans"].sort_values("bin_id")
    lo0, width = float(base.bin_lo.iloc[0]), float(base.bin_hi.iloc[0] - base.bin_lo.iloc[0])
    n_bins = len(base)
    ref = base.ref_frac.to_numpy()
    counts = {}
    for p, grp in docs_pd.dropna(subset=["spans"]).groupby("part_id"):
        n_spans = grp.spans.map(len).to_numpy(dtype=float)
        b = np.clip(np.floor((n_spans - lo0) / width).astype(int), 0, n_bins - 1)
        counts[p] = np.bincount(b, minlength=n_bins).astype(float)
    return counts, ref, width


def test_emd_matches_numpy_oracle(docs, docs_pd, baseline):
    """Wasserstein-1 = sum |CDF_p - CDF_q| x bin width, vs an independent
    numpy computation over the same fixed-bin histograms."""
    import numpy as np

    counts, ref, width = _numpy_oracle_inputs(docs_pd)
    _, scores = drift_check(profile.n_spans_series(docs), baseline, "n_spans")
    scores = scores.toPandas().set_index("part_id")
    assert set(scores.index) == set(counts)
    for p, c in counts.items():
        pdist = c / c.sum()
        expected = float(np.abs(pdist.cumsum() - ref.cumsum()).sum() * width)
        assert scores.loc[p, "emd"] == pytest.approx(expected, abs=1e-9)


def test_emd_check_through_suite(spark, docs, baseline, catalog):
    """drift_emd as a configured suite check: shares the sibling pass, own
    threshold, and only the drifted partition fails at a sane threshold."""
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    suite = CheckSuite([
        Check("drift_ks", "n_spans", {"threshold": 0.15}),
        Check("drift_emd", "n_spans", {"threshold": 1.0}),
    ])
    res = run_suite(spark, docs, suite, baseline=baseline)
    v = res.verdicts.toPandas()
    assert set(v.constraint_id) == {"drift_ks:n_spans", "drift_emd:n_spans"}
    emd_failed = set(v[(v.constraint_id == "drift_emd:n_spans") & (v.status == "FAIL")].part_id)
    assert emd_failed == {fx.DRIFT_PART}


def test_kl_matches_numpy_oracle_and_suite_check(spark, docs, docs_pd, baseline, catalog):
    """KL(observed || baseline) vs an independent numpy computation over
    the same histograms (terms with p=0 contribute 0; q clamped at eps),
    and as a configured drift_kl suite check only the drifted partition
    fails."""
    import numpy as np

    from sat_val_framework_spark.operators.drift import _EPS
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    counts, ref, _width = _numpy_oracle_inputs(docs_pd)
    _, scores = drift_check(profile.n_spans_series(docs), baseline, "n_spans")
    scores = scores.toPandas().set_index("part_id")
    assert set(scores.index) == set(counts)
    for p, c in counts.items():
        pdist = c / c.sum()
        pc, qc = np.clip(pdist, _EPS, None), np.clip(ref, _EPS, None)
        expected = float((pc * np.log(pc / qc)).sum())
        assert scores.loc[p, "kl"] == pytest.approx(expected, abs=1e-9)

    suite = CheckSuite([Check("drift_kl", "n_spans", {"threshold": 0.15})])
    v = run_suite(spark, docs, suite, baseline=baseline).verdicts.toPandas()
    assert set(v.constraint_id) == {"drift_kl:n_spans"}
    assert set(v[v.status == "FAIL"].part_id) == {fx.DRIFT_PART}


def test_drift_on_arbitrary_numeric_column(spark, baseline):
    """Drift checks are not limited to the derived n_spans/text_len series:
    any top-level numeric column works, with the caller supplying matching
    baseline bin edges. Here a plain 'score' column drifts in one
    partition and only that partition fails."""
    import numpy as np

    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    rows = [(i % 4, float(i % 10) + (4.0 if i % 4 == 2 else 0.0))
            for i in range(2000)]
    df = spark.createDataFrame(rows, ["part_id", "score"])
    # baseline = the un-drifted distribution (uniform over bins 0..9);
    # edges span 14 unit bins so the drifted values stay in-domain
    base = spark.createDataFrame(
        [("score", b, float(b), float(b + 1), 0.1 if b < 10 else 0.0) for b in range(14)],
        ["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"],
    )
    suite = CheckSuite([Check("drift_ks", "score", {"threshold": 0.3})])
    v = run_suite(spark, df, suite, baseline=base).verdicts.toPandas()
    assert set(v.constraint_id) == {"drift_ks:score"}
    assert set(v[v.status == "FAIL"].part_id) == {2}
    assert int(np.sum(v.status == "PASS")) == 3


def test_baseline_edges_sparse_baseline(spark):
    """Empirical baselines omit empty bins; the grid must anchor from the
    first PRESENT row and size from the largest bin_id (len(rows)
    undercounted the support and crashed the drift fold)."""
    from sat_val_framework_spark.operators.drift import baseline_edges

    base = spark.createDataFrame(
        [("c", 3, 60.0, 80.0, 0.5), ("c", 24, 480.0, 500.0, 0.5)],
        ["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"],
    )
    lo0, width, n_bins = baseline_edges(base, "c")
    assert (lo0, width, n_bins) == (0.0, 20.0, 25)


def test_baseline_edges_rejects_zero_width_bin(spark):
    """A first bin with bin_hi == bin_lo used to fail only at collect time
    (DIVIDE_BY_ZERO in the binning expression); it is a malformed baseline,
    reported eagerly like a missing column."""
    import pytest

    from sat_val_framework_spark.operators.drift import baseline_edges

    base = spark.createDataFrame(
        [("c", 0, 5.0, 5.0, 0.5), ("c", 1, 5.0, 10.0, 0.5)],
        ["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"],
    )
    with pytest.raises(ValueError, match="bin width for column 'c'"):
        baseline_edges(base, "c")


def test_categorical_drift_matches_python_oracle(spark):
    """TV and JS vs an independent python computation, including a group
    missing a category entirely (the spine keeps p=0 terms), NULLs as a
    category, and the drifted flag."""
    import math

    from sat_val_framework_spark.operators.drift import categorical_drift

    rows = (
        [("g1", "a")] * 50 + [("g1", "b")] * 50
        + [("g2", "a")] * 90 + [("g2", "b")] * 10      # skewed
        + [("g3", "a")] * 50 + [("g3", None)] * 50     # NULL category, no 'b'
    )
    df = spark.createDataFrame(rows, ["grp", "cat"])
    got = {r["grp"]: r for r in categorical_drift(df, "cat", "grp", tv_threshold=0.15).collect()}

    counts = {"g1": {"a": 50, "b": 50}, "g2": {"a": 90, "b": 10}, "g3": {"a": 50, "<NULL>": 50}}
    n_all = 300
    gl = {"a": 190 / n_all, "b": 60 / n_all, "<NULL>": 50 / n_all}
    for g, cs in counts.items():
        t = sum(cs.values())
        tv = js = 0.0
        for v, q in gl.items():
            p = cs.get(v, 0) / t
            tv += abs(p - q) / 2
            m = (p + q) / 2
            js += ((p * math.log(p / m) if p > 0 else 0.0)
                   + (q * math.log(q / m) if q > 0 else 0.0)) / 2
        assert got[g]["tv"] == pytest.approx(round(tv, 6), abs=1e-9), g
        assert got[g]["js"] == pytest.approx(round(js, 6), abs=1e-9), g
        assert got[g]["n_rows"] == t
        assert got[g]["drifted"] == (tv > 0.15), g
    # every group drifts vs the skewed GLOBAL at 0.15 (tv: g2=.2667,
    # g1=.3, g3=.3333); a 0.31 threshold flags only the worst group —
    # the policy knob works
    loose = {r["grp"]: r["drifted"]
             for r in categorical_drift(df, "cat", "grp", tv_threshold=0.31).collect()}
    assert loose == {"g1": False, "g2": False, "g3": True}


def test_categorical_drift_null_group_key(spark):
    """A NULL in the GROUPING column is a legitimate group: the null-safe
    spine join must score it on its actual distribution, not report
    near-maximal drift because NULL never equi-joins (review finding,
    reproduced at tv=0.5 for a group identical to another)."""
    rows = [("g1", "a")] * 5 + [("g1", "b")] * 5 + [(None, "a")] * 5 + [(None, "b")] * 5
    df = spark.createDataFrame(rows, ["grp", "cat"])
    from sat_val_framework_spark.operators.drift import categorical_drift

    got = {r["grp"]: r for r in categorical_drift(df, "cat", "grp").collect()}
    assert set(got) == {"g1", None}
    # both groups mirror the global 50/50 mix exactly
    assert got["g1"]["tv"] == got[None]["tv"] == 0.0
    assert not got[None]["drifted"]


def test_run_suite_drift_check_accepts_pandas_baseline(spark, docs, baseline):
    """A drift check run on its own reads a pandas baseline exactly like the
    Spark one (baselines are metadata-sized; one reader, drift.baseline_pd)."""
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    suite = CheckSuite([Check("drift_ks", "text_len", {"threshold": 0.15})])
    cols = ["constraint_id", "part_id", "status", "error_kind", "rows_scanned", "violation_count"]

    def rows(b):
        return sorted(tuple(r) for r in run_suite(spark, docs, suite, baseline=b).verdicts.select(*cols).collect())

    spark_rows = rows(baseline)
    assert len(spark_rows) == 16 and all(r[2] != "ERROR" for r in spark_rows)
    assert rows(baseline.toPandas()) == spark_rows
