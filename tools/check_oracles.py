"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry via Spark and its oracle_sql() twin via
DuckDB on the same sf dir; compare row count, column names, and an
order-insensitive value hash. Strict string-equality on values (both sides
round doubles to 6dp in the queries themselves), with an approx fallback
report so float-edge risks are visible before the driver sees them.

Usage: python tools/check_oracles.py [--conf KEY=VALUE ...] [sf_dir] [only_query ...]

``--conf`` (repeatable) is passed to ``get_spark`` as ``extra_conf``, so the
gate can run under another legal config, e.g. ``--conf
spark.sql.exchange.reuse=false``. The summary line ends with the run's wall
seconds (session start included) and the number of generated classes Spark
compiled, the cold-run cost of one pass over the queries.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
from pathlib import Path

import duckdb

# the checkout this tool lives in, not a fixed install path: this process
# imports from sys.path, and the Python workers the JVM forks inherit
# PYTHONPATH, so a copy of the repo tests its own code on both sides
REPO_ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod
from sat_val_framework_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 6dp rounding happens in the queries; normalize float repr only
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), lines


def conf_pair(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def parse_conf(argv: list[str]) -> tuple[dict[str, str], list[str]]:
    """Split the repeatable ``--conf KEY=VALUE`` options from the
    positional arguments, which keep their order."""
    p = argparse.ArgumentParser(
        description=__doc__.split("\n")[0],
        usage="%(prog)s [--conf KEY=VALUE ...] [sf_dir] [only_query ...]",
    )
    p.add_argument("--conf", type=conf_pair, action="append", default=[],
                   metavar="KEY=VALUE", help="extra Spark conf (repeatable)")
    args, rest = p.parse_known_args(argv)
    return dict(args.conf), rest


def main():
    conf, sys.argv[1:] = parse_conf(sys.argv[1:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    t0 = time.perf_counter()
    spark = get_spark(app_name="check_oracles", extra_conf=conf)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        # the driver's pandas-based canonicalizer crashes on list cells
        # (sort_values -> factorize -> unhashable type 'list') — catch the
        # shape locally even for rows-only queries (r1: frame_plan)
        arr_cols = [f.name for f in sdf.schema.fields if f.dataType.typeName() in ("array", "map", "struct")]
        if arr_cols:
            print(f"FAIL  {name}: array/map/struct output columns {arr_cols} crash the driver canon")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(srows)} (no oracle; rows-only)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c for c in rel.columns]
            # HUGEINT (e.g. an uncast windowed sum()) survives fetchall() as
            # int but becomes float64 in the driver's pandas canon — flag the
            # TYPE, since values alone pass here but fail there (r1: sessionize)
            huge = [c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
            if huge:
                raise TypeError(
                    f"oracle emits HUGEINT column(s) {huge}: cast to ::bigint "
                    "(driver pandas canon converts HUGEINT to float64)"
                )
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        sh, slines = frame_fingerprint(scols, srows)
        dh, dlines = frame_fingerprint(dcols, drows)
        if ok_cols and len(srows) == len(drows) and sh == dh:
            print(f"PASS  {name}: rows={len(srows)}")
            n_pass += 1
        else:
            n_fail += 1
            print(
                f"FAIL  {name}: rows {len(srows)} vs {len(drows)}, cols_ok={ok_cols} "
                f"({sorted(scols)} vs {sorted(dcols)}), hash_ok={sh == dh}"
            )
            for a, b in list(zip(slines, dlines))[:200]:
                if a != b:
                    print(f"   spark : {a[:200]}")
                    print(f"   duckdb: {b[:200]}")
                    break
    compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only, "
        f"{time.perf_counter() - t0:.1f} s, {compiles} codegen compiles"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
