"""run_suite(DEFAULT_SUITE) answers must not depend on the runtime config:
exchange reuse, AQE, shuffle-partition count or the broadcast threshold."""

import pytest

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite

COLS = (
    "constraint_id", "part_id", "status", "error_kind", "rows_scanned",
    "violation_count", "sample_violations",
)
CONFS = [
    ("spark.sql.exchange.reuse", "false"),
    ("spark.sql.adaptive.enabled", "false"),
    ("spark.sql.shuffle.partitions", "1"),
    ("spark.sql.shuffle.partitions", "7"),
    ("spark.sql.shuffle.partitions", "64"),
    ("spark.sql.autoBroadcastJoinThreshold", "-1"),
]


def _verdicts(spark, docs, catalog, baseline, baseline_cat):
    # drop every cached frame first: pass frames persisted under another
    # config would otherwise answer for this one
    spark.catalog.clearCache()
    docs.cache()
    res = run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    )
    rows = res.verdicts.select(*COLS).collect()
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows)


@pytest.fixture(scope="module")
def default_verdicts(spark, docs, catalog, baseline, baseline_cat):
    return _verdicts(spark, docs, catalog, baseline, baseline_cat)


@pytest.mark.parametrize("key,value", CONFS)
def test_suite_verdicts_do_not_depend_on_config(
    spark, docs, catalog, baseline, baseline_cat, default_verdicts, key, value
):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        got = _verdicts(spark, docs, catalog, baseline, baseline_cat)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
        spark.catalog.clearCache()
        docs.cache()
    assert len(got) == len(DEFAULT_SUITE.checks) * fx.N_PARTS
    assert got == default_verdicts
