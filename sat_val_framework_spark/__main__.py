"""spark-submit entry point (north rule: packaged for spark-submit --py-files).

Usage:
    python tools/package.py                       # builds dist/sat_val_framework_spark.zip
    spark-submit --py-files dist/sat_val_framework_spark.zip \
        run_validation.py --docs <parquet> --checkpoint <dir> [--run-id r1]

or locally without a cluster:
    python -m sat_val_framework_spark --docs <parquet> --checkpoint <dir>

Runs the DEFAULT_SUITE over the given documents table, checkpointing
per-partition verdicts; re-running the same --run-id resumes from the
checkpoint (left-anti join on completed pairs).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sat_val_framework_spark")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--checkpoint", required=True, help="metrics/verdicts table dir")
    p.add_argument("--run-id", default=None)
    p.add_argument("--violations", default=None, help="violations table dir (full rows)")
    p.add_argument("--master", default=None, help="override master (default from env)")
    p.add_argument("--n-media", type=int, default=None, help="media catalog size (fixture)")
    p.add_argument("--catalog", default=None, help="media catalog parquet (default: fixture)")
    p.add_argument("--baseline", default=None, help="baseline_stats parquet (default: fixture)")
    p.add_argument(
        "--baseline-cat", default=None, help="categorical baseline parquet (default: fixture)"
    )
    args = p.parse_args(argv)

    from sat_val_framework_spark.fixtures import (
        N_MEDIA,
        baseline_kinds_df,
        baseline_stats_df,
        media_catalog_df,
    )
    from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite
    from sat_val_framework_spark.session import get_spark

    spark = get_spark(app_name="sat_val_qc", master=args.master)
    docs = spark.read.parquet(args.docs)
    # dimension inputs: real parquet paths in production, the seeded
    # fixtures as the no-flag default (so `--docs <fixture-shaped table>`
    # alone runs end-to-end). The categorical baseline is REQUIRED by
    # DEFAULT_SUITE's drift_categorical:kind — without it every run would
    # emit retryable MissingInputError verdicts for that check and a
    # checkpointed run could never complete (review finding r4)
    catalog = (
        spark.read.parquet(args.catalog)
        if args.catalog
        else media_catalog_df(spark, args.n_media or N_MEDIA)
    )
    baseline = (
        spark.read.parquet(args.baseline) if args.baseline else baseline_stats_df(spark)
    )
    baseline_cat = (
        spark.read.parquet(args.baseline_cat)
        if args.baseline_cat
        else baseline_kinds_df(spark)
    )

    res = run_suite(
        spark,
        docs,
        DEFAULT_SUITE,
        catalog=catalog,
        baseline=baseline,
        baseline_cat=baseline_cat,
        checkpoint_path=args.checkpoint,
        violations_path=args.violations,
        run_id=args.run_id,
    )
    emitted = res.verdicts.count()
    print(
        f"run {res.run_id}: emitted {emitted} verdicts, "
        f"skipped {len(res.skipped)} completed (constraint, partition) pairs"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
