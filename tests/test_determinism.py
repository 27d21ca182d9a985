"""SURVEY.md §7 hard part (d): verdicts — including violation samples —
must be byte-identical at any parallelism level / task order."""

from functools import reduce

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


def test_modular_suite_identical_across_parallelism(spark, docs, catalog, baseline, baseline_cat):
    """Each check in a suite of its own: the per-check operators."""
    inputs = dict(catalog=catalog, baseline=baseline, baseline_cat=baseline_cat)

    def per_check(d):
        return reduce(
            lambda a, b: a.unionByName(b),
            [run_suite(spark, d, CheckSuite([c]), **inputs).verdicts for c in DEFAULT_SUITE.checks],
        ).collect()

    assert _key(per_check(docs.coalesce(1))) == _key(per_check(docs.repartition(16)))


def test_fused_suite_identical_across_parallelism(spark, docs, catalog, baseline, baseline_cat):
    """DEFAULT_SUITE in one run: the fused passes."""
    inputs = dict(catalog=catalog, baseline=baseline, baseline_cat=baseline_cat)
    one = run_suite(spark, docs.coalesce(1), DEFAULT_SUITE, **inputs).verdicts.collect()
    many = run_suite(spark, docs.repartition(16), DEFAULT_SUITE, **inputs).verdicts.collect()
    assert _key(one) == _key(many)


def test_new_r2_queries_identical_across_runs(spark):
    """Round-2 driver queries are set-deterministic: same rows at different
    parallelism (needs_testdata: uses sf0.001 for speed)."""
    import os

    import pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    qs = em.queries()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    for name in ("range_join", "dedup_jaccard", "dedup_embedding", "cms_freq",
                 "frequent_values", "value_entropy", "time_rollup"):
        a = {tuple(r) for r in qs[name](spark, sf).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            b = {tuple(r) for r in qs[name](spark, sf).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert a == b, name
