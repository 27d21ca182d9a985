"""Session settings from ``get_spark``: a codegen cache sized to the
library's generated-class working set, and PySpark's per-Column call-site
capture off. Both must hold on the shared test session, a repeated query
must not recompile its classes, and errors must still come out as ERROR
verdict rows carrying the Spark error class (PAPER.md contract 2).

Cost: about 9 s of Tier-1 time on a 4-core host: 7 s for the two
150-query passes of the repeat-pass test, 2 s for the failing suite run."""

from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from sat_val_framework_spark.runner import run_suite
from sat_val_framework_spark.suite import Check, CheckSuite
from sat_val_framework_spark.verdicts import ERR_EXECUTION, ERROR

N_PROJECTIONS = 150  # more distinct classes than Spark's default 100-entry cache


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_session_sets_codegen_cache_and_debugging_flag(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # PySpark's cached read of the flag, the one every Column call consults
    assert is_debugging_enabled() is False


def test_repeated_queries_reuse_their_generated_classes(spark):
    def one_pass():
        for k in range(N_PROJECTIONS):
            df = spark.range(1).selectExpr(f"id * {k} + 1 AS v")
            # building the plan's RDD compiles its whole-stage class (one per
            # k, the literal is inlined) without paying for a job
            df._jdf.queryExecution().executedPlan().execute()

    one_pass()
    before = _codegen_compiles(spark)
    one_pass()
    assert _codegen_compiles(spark) - before == 0


def test_execution_error_is_still_an_error_verdict(spark, docs, tmp_path):
    # ANSI casts fail at execution time, here while the checkpoint write
    # runs the uniqueness job inside run_suite's try
    bad = docs.withColumn(
        "doc_id", F.concat(F.lit("x-"), F.col("doc_id")).cast("int").cast("string")
    )
    suite = CheckSuite(checks=[Check("unique", "doc_id")])
    res = run_suite(spark, bad, suite, checkpoint_path=str(tmp_path / "ck"), run_id="bad-cast")
    rows = res.verdicts.collect()
    assert rows, "must emit verdicts, not raise"
    assert all(r["status"] == ERROR for r in rows)
    assert all(r["error_kind"] == ERR_EXECUTION for r in rows)
    assert all(r["sample_violations"][0].startswith("[CAST_INVALID_INPUT]") for r in rows)
