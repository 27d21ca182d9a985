"""spark-submit entry point (north rule: packaged for spark-submit --py-files).

Usage:
    python tools/package.py                       # builds dist/sat_val_framework_spark.zip
    spark-submit --py-files dist/sat_val_framework_spark.zip \
        run_validation.py --docs <parquet> --checkpoint <dir> --catalog <parquet> \
        --baseline <parquet> --baseline-cat <parquet> [--run-id r1]

or locally without a cluster:
    python -m sat_val_framework_spark --docs <parquet> --checkpoint <dir> \
        --catalog <parquet> --baseline <parquet> --baseline-cat <parquet>

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
    p.add_argument("--catalog", required=True, help="media catalog parquet")
    p.add_argument("--baseline", required=True, help="baseline_stats parquet")
    p.add_argument("--baseline-cat", required=True, help="categorical baseline parquet")
    args = p.parse_args(argv)

    from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite
    from sat_val_framework_spark.session import get_spark

    spark = get_spark(app_name="sat_val_qc", master=args.master)
    docs = spark.read.parquet(args.docs)
    # every dimension input is required: a table scored against another
    # table's catalog or drift bins gives wrong verdicts without an error
    catalog = spark.read.parquet(args.catalog)
    baseline = spark.read.parquet(args.baseline)
    baseline_cat = spark.read.parquet(args.baseline_cat)

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
