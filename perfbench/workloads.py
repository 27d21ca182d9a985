"""The benchmark's workloads.

Each is a closed loop with one client: the benchmark issues the next call
when the previous one returns, on ``local[<= 4>]`` task slots.

- ``suite_fused``: DEFAULT_SUITE through ``fused.run_suite_fused`` over a
  seeded 100k-doc table into a noop sink: the north-rule docs/sec path,
  scan- and hash-agg-bound. Traced runs also put the same suite through
  the modular ``runner.run_suite`` with checkpoint and violations sinks,
  then resume it (runner, checkpoint and resume layers).
- ``operator_mix``: ten ``__spark_entry__`` driver queries back to back,
  one per library module, over small seeded star tables. Planning, codegen
  and JIT on the driver dominate, and the mix's generated classes overflow
  Spark's codegen cache, so they recompile every iteration. Traced runs
  also run ``outlier_fences`` once (operators.stats' eager checkpoint).

Output checks run once per run, outside the timed iterations: suite
verdict statuses against the injection rules (the modular run is checked
against the same table, so the two paths agree), query results against
their DuckDB twins. Every call that raises or fails a check counts as a
failed operation.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import inputs
import probes

# query -> the layer its time is grouped under: the library module the
# query calls, or for the plain-Spark twins the operator family it stands
# for (ref_coverage is the B5 referential shape, span_canonicalize B9)
MIX = {
    "quantile_profile": "operators.stats",
    "categorical_drift": "operators.drift",
    "uniqueness": "operators.uniqueness",
    "ref_coverage": "operators.referential",
    "span_grammar": "operators.span_grammar",
    "span_canonicalize": "operators.canonicalize",
    "minhash_lsh": "functions.dedup",
    "ann_topk": "functions.similarity",
    "bpe_count": "functions.text",
    "distinct_hll": "functions.sketch",
}
STAR_TABLES = ("lineitem", "part", "events", "documents", "embeddings")
# the stats query with an eager localCheckpoint; at ~4 s a call it runs once
# per traced run instead of in every timed iteration
PROBE_QUERY = "outlier_fences"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, span: str, fn) -> tuple[float, float, object]:
    """(wall s, process-tree CPU s, result) of ``fn()``, run inside ``span``."""
    c0, t0 = probes.tree_cpu_s(), time.perf_counter()
    with tracer.span(span):
        out = fn()
    return time.perf_counter() - t0, probes.tree_cpu_s() - c0, out


def _dir_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""
    scan_markers: dict[str, str] = {}

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0

    def call(self, fn, check=None):
        """Run one operation and count it; count it failed when it raises or
        ``check(result)`` is false. Returns the result, or None on failure."""
        self.attempted += 1
        try:
            out = fn()
            if check is None or check(out):
                return out
        except Exception as exc:  # noqa: BLE001 - a failed operation is data here
            print(f"{self.name}: operation failed: {exc!r}"[:2000], file=sys.stderr)
        self.failed += 1
        return None

    def prepare(self) -> None:
        """Driver-free work after input generation (oracles)."""

    def traced_probe(self, spark, tracer, jvm) -> dict[str, float]:
        """Extra traced calls made once, after the timed iterations."""
        return {}


class SuiteFused(Workload):
    name = "suite_fused"
    n_docs = 100_000
    # resume time spent in jobs that read the checkpoint table
    scan_markers = {"checkpoint": "/ckpt"}

    def generate(self) -> None:
        self.inputs = inputs.write_documents(
            os.path.join(self.work, "input"), self.n_docs, self.seed
        )
        self.expected = inputs.expected_statuses(self.n_docs, self.seed)

    def register(self, spark) -> None:
        import pyarrow.parquet as pq

        from sat_val_framework_spark.sources import read_documents

        self.docs = read_documents(spark, self.inputs["documents"])
        self.catalog = spark.read.parquet(self.inputs["media_catalog"])
        self.baseline = spark.read.parquet(self.inputs["baseline_stats"])
        self.baseline_cat = spark.read.parquet(self.inputs["baseline_kinds"])
        # metadata-sized: the fused path takes it as pandas, with no Spark job
        self.baseline_pd = pq.read_table(self.inputs["baseline_stats"]).to_pandas()

    def scan(self, spark) -> None:
        from sat_val_framework_spark.sources import read_documents

        _noop(read_documents(spark, self.inputs["documents"]))

    def statuses_ok(self, rows) -> bool:
        got = {(r["constraint_id"], r["part_id"]): r["status"] for r in rows}
        bad = sorted(k for k in set(got) | set(self.expected) if got.get(k) != self.expected.get(k))
        if bad:
            print(f"{self.name}: {len(bad)} verdicts differ, e.g. {bad[:5]}", file=sys.stderr)
        return not bad

    def _verdicts(self, spark):
        from sat_val_framework_spark.fused import run_suite_fused

        return run_suite_fused(
            spark, self.docs, self.catalog, self.baseline_pd, baseline_cat=self.baseline_cat
        )

    def check(self, spark, tracer) -> None:
        cols = ("constraint_id", "part_id", "status")
        self.call(lambda: self._verdicts(spark).select(*cols).collect(), self.statuses_ok)

    def iteration(self, spark, tracer) -> dict | None:
        t = self.call(lambda: _timed(tracer, "fused", lambda: _noop(self._verdicts(spark))))
        return t and {"iter_s": t[0], "cpu_s": t[1]}

    def traced_probe(self, spark, tracer, jvm) -> dict[str, float]:
        """The same suite through the modular ``runner.run_suite`` with a
        checkpoint and violations sink, then a resume with the same run_id.
        Its verdicts must match the same expected statuses as the fused
        path's (so the two paths agree) and the resume must emit none."""
        from sat_val_framework_spark.checkpoint import read_checkpoint
        from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite

        ckpt = os.path.join(self.work, "ckpt")
        viol = os.path.join(self.work, "violations")

        def run():
            return run_suite(
                spark, self.docs, DEFAULT_SUITE, catalog=self.catalog, baseline=self.baseline,
                baseline_cat=self.baseline_cat, checkpoint_path=ckpt, violations_path=viol,
                run_id="perfbench",
            )

        def verdicts_ok(_):
            rows = read_checkpoint(spark, ckpt).where("run_id = 'perfbench'").collect()
            return self.statuses_ok(rows)

        out: dict[str, float] = {}
        if self.call(lambda: _timed(tracer, "runner", run), verdicts_ok) is None:
            return out
        files, size = _dir_files(ckpt)
        vfiles, vsize = _dir_files(viol)
        out["checkpoint.files_written"] = float(files + vfiles)
        out["checkpoint.bytes_written"] = float(size + vsize)
        before = jvm.read()["files_discovered"]
        t = self.call(
            lambda: _timed(tracer, "runner.resume", run),
            # every pair is checkpointed, so the resume emits no verdicts
            lambda t: t[2].verdicts.isEmpty(),
        )
        if t is not None:
            out["runner.resume_s"] = t[0]
            out["runner.resume_files_discovered"] = jvm.read()["files_discovered"] - before
        return out


def _norm_cell(v) -> str:
    if v is None:
        return "\u2205"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(cols, rows) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive value hash) in the
    canonical form of tools/check_oracles.py: columns in name order, cells
    normalised, lines sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return tuple(sorted(cols)), len(rows), h.hexdigest()


class OperatorMix(Workload):
    name = "operator_mix"

    def generate(self) -> None:
        self.star = inputs.write_star(os.path.join(self.work, "input"), self.seed)

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect(config={"threads": 2})
        try:
            for t in STAR_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.star}/{t}.parquet'")
            self.expected = {}
            for q in [*MIX, PROBE_QUERY]:
                rel = con.sql(oracles[q])
                self.expected[q] = fingerprint(rel.columns, rel.fetchall())
        finally:
            con.close()

    def register(self, spark) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        # registration: list each table's files and read its schema; the
        # queries themselves read the tables by path
        self.tables = [spark.read.parquet(f"{self.star}/{t}.parquet") for t in STAR_TABLES]

    def scan(self, spark) -> None:
        for t in STAR_TABLES:
            _noop(spark.read.parquet(f"{self.star}/{t}.parquet"))

    def _check_query(self, spark, q: str) -> None:
        def result():
            df = self.queries[q](spark, self.star)
            return fingerprint(df.columns, [tuple(r) for r in df.collect()])

        def same(got):
            if got != self.expected[q]:
                print(f"operator_mix: {q} differs from its DuckDB twin: "
                      f"{got[:2]} vs {self.expected[q][:2]}", file=sys.stderr)
            return got == self.expected[q]

        self.call(result, same)

    def check(self, spark, tracer) -> None:
        for q in MIX:
            self._check_query(spark, q)

    def traced_probe(self, spark, tracer, jvm) -> dict[str, float]:
        with tracer.span(f"operators.stats.{PROBE_QUERY}"):
            self._check_query(spark, PROBE_QUERY)
        return {}

    def iteration(self, spark, tracer) -> dict | None:
        c0, t0 = probes.tree_cpu_s(), time.perf_counter()
        for q, layer in MIX.items():
            if self.call(lambda: _timed(tracer, layer,
                                        lambda: _noop(self.queries[q](spark, self.star)))) is None:
                return None
        return {"iter_s": time.perf_counter() - t0, "cpu_s": probes.tree_cpu_s() - c0}


WORKLOADS = {w.name: w for w in (SuiteFused, OperatorMix)}
