#!/usr/bin/env python3
"""Benchmark for the validation engine. Run from the repository root:

    python3 perfbench/run.py --workload suite_fused --seed 1 --seconds 12 --trace 0

Workloads are described in workloads.py; metric names and units in
BENCHMARK.json. Per run:

1. Generate the seeded inputs as parquet (inputs.py); not timed.
2. Start a Spark session (this launches the JVM) and register the inputs.
3. Run the output checks once, as the first (cold) iteration, then warm up
   until the JIT time per iteration stops falling or the warm-up budget is
   spent.
4. Run timed iterations for ``--seconds``, and at least
   ``MIN_TIMED_ITERS``. ``iter_s_p50`` is their median
   wall time, ``cpu_s_per_iter`` the median CPU of the whole process tree
   (driver, JVM, Python workers) per iteration.
5. Stop and set up again ``SETUPS - 1`` times in the same JVM. ``setup_s``
   is the median of all set-ups (session start plus input registration).

``--trace 1`` reports per-layer metrics instead: the timed iterations run
with spans on (spans.py), the session writes a Spark event log, and JVM
counters are read through py4j. ``trace.overhead_pct`` is the time spent
recording spans as a share of the traced iterations; the event log's cost
shows as ``trace.iter_s_p50`` against the untraced run's ``iter_s_p50``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"  # the library's default (16g) exceeds small hosts' RAM
SETUPS = 5
WARMUP_MAX_S = 12.0
JIT_FLAT = 0.8  # an iteration's JIT ms >= this share of the previous one: slope over
MIN_TIMED_ITERS = 2  # a median of a fixed count, however long each iteration takes
MAX_FAILED_ITERS = 3  # give up on a run whose iterations keep failing
SCAN_REPS = 2


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _layers(timed, table, samples) -> dict[str, float]:
    """Per-layer metrics: per timed iteration from the timed iterations'
    span table and JVM counter deltas; per call for the scan and modular
    suite probes, from the whole run's span table."""
    n = len(samples)

    def per(span: str, key: str) -> float:
        return timed.get(span, {}).get(key, 0.0) / n

    def once(span: str, key: str) -> float:
        return table.get(span, {}).get(key, 0.0)

    scans = table.get("sources.scan", {})
    out = {
        "sources.scan_s": scans.get("wall_s", 0.0) / max(scans.get("calls", 0.0), 1.0),
        "sources.input_bytes": scans.get("input_bytes", 0.0) / max(scans.get("calls", 0.0), 1.0),
        "sources.files_discovered": _median([s["files_discovered"] for s in samples]),
        "codegen.compiles": _median([s["codegen_compiles"] for s in samples]),
        "codegen.compile_ms": _median([s["codegen_compile_ms"] for s in samples]),
        "jvm.jit_ms": _median([s["jit_ms"] for s in samples]),
        "jvm.gc_ms": _median([s["gc_ms"] for s in samples]),
        "jvm.heap_peak_gb": max(s["heap_peak_gb"] for s in samples),
        "exchange.reused": sum(row.get("reused_exchanges", 0.0) for row in timed.values()) / n,
        "runner.resume_jobs": once("runner.resume", "jobs"),
        "checkpoint.read_s": once("runner.resume", "checkpoint_job_s"),
        "checkpoint.write_jobs": once("checkpoint.write", "jobs"),
        "checkpoint.write_s": once("checkpoint.write", "wall_s"),
        "operators.stats.eager_checkpoint_jobs": once(
            "operators.stats.outlier_fences", "eager_checkpoint_jobs"
        ),
    }
    for k in ("wall_s", "self_s", "driver_s", "jobs", "executor_cpu_s"):
        out[f"runner.{k}"] = once("runner", k)
    for span in timed:
        if span.startswith(("fused", "operators.", "functions.")):
            for k in ("wall_s", "self_s", "jobs", "tasks", "executor_cpu_s",
                      "shuffle_write_bytes", "python_bytes"):
                out.setdefault(f"{span}.{k}", per(span, k))
    return out


def _stop_jvm(probes) -> None:
    """Close the py4j gateway's JVM (it exits when its stdin closes) and wait
    until no process started by this run is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(probes.process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    args = _args()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(root, "sat_val_framework_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(spec_path)):
        _log("run from the repository root (library or BENCHMARK.json not found)")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import probes
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(root, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every file the run writes inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    wl.generate()
    wl.prepare()
    _log(f"inputs {time.perf_counter() - t0:.2f}s")

    from sat_val_framework_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    starts, setups = [], []

    def set_up():
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)
        starts.append(time.perf_counter() - t0)
        wl.register(spark)
        setups.append(time.perf_counter() - t0)
        return spark

    spark = set_up()
    try:
        jvm = probes.JvmCounters(spark)
        tracer = Tracer(spark)
        if args.trace:
            from sat_val_framework_spark import checkpoint

            tracer.wrap(checkpoint, "append_verdicts", "checkpoint.write")
            tracer.wrap(checkpoint, "append_violations", "checkpoint.write")

        warm_jit = []
        t_warm = time.perf_counter()
        before = jvm.read()
        wl.check(spark, tracer)
        warm_jit.append(jvm.read()["jit_ms"] - before["jit_ms"])
        _log(f"checks {time.perf_counter() - t_warm:.1f}s, jit {warm_jit[-1]:.0f}ms")
        while time.perf_counter() - t_warm < WARMUP_MAX_S and not (
            len(warm_jit) >= 3 and warm_jit[-1] >= JIT_FLAT * warm_jit[-2]
        ):
            before = jvm.read()
            wl.iteration(spark, tracer)
            warm_jit.append(jvm.read()["jit_ms"] - before["jit_ms"])
            _log(f"warm-up {len(warm_jit)}: jit {warm_jit[-1]:.0f}ms")

        samples = []
        tracer.on = bool(args.trace)
        t_run = time.perf_counter()
        failed = 0
        for k in itertools.count():
            if failed >= MAX_FAILED_ITERS or (
                len(samples) >= MIN_TIMED_ITERS and time.perf_counter() - t_run >= args.seconds
            ):
                break
            jvm.reset_peaks()
            before = jvm.read()
            res = wl.iteration(spark, tracer)
            failed += res is None
            if res is not None:
                after = jvm.read()
                res.update({k: after[k] - before[k] for k in after})
                res["heap_peak_gb"] = after["heap_peak_gb"]
                samples.append(res)
                _log(f"iteration {k}: {res['iter_s']:.3f}s cpu {res['cpu_s']:.2f}s "
                     f"jit {res['jit_ms']:.0f}ms compiles {res['codegen_compiles']:.0f}")
        timed_bookkeeping, timed_spans = tracer.bookkeeping_s, len(tracer.spans)
        probe = {}
        if args.trace:
            for _ in range(SCAN_REPS):
                with tracer.span("sources.scan"):
                    wl.scan(spark)
            probe = wl.traced_probe(spark, tracer, jvm)
        tracer.on = False
        rss = probes.worker_peak_rss_mb()
        for _ in range(SETUPS - 1):
            spark.stop()
            spark = set_up()
        _log("setup " + " ".join(f"{x:.3f}" for x in setups))
    finally:
        spark.stop()
        _stop_jvm(probes)

    if not args.trace:
        wanted = spec["end_to_end"]
        metrics = {
            "setup_s": _median(setups),
            "iter_s_p50": _median([s["iter_s"] for s in samples]),
            "cpu_s_per_iter": _median([s["cpu_s"] for s in samples]),
        }
    else:
        wanted = spec["per_layer"]
        groups = probes.read_event_log(log_dir, wl.scan_markers)
        metrics = _layers(tracer.layer_table(groups, timed_spans), tracer.layer_table(groups),
                          samples) if samples else {}
        metrics.update(probe)
        metrics.update({
            "session.start_s": _median(starts),
            "py.worker_peak_rss_mb": rss,
            "warmup.iterations": float(len(warm_jit)),
            "trace.iter_s_p50": _median([s["iter_s"] for s in samples]),
            "trace.overhead_pct": 100.0 * timed_bookkeeping / max(
                sum(s["iter_s"] for s in samples), 1e-9
            ),
        })
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": wl.failed == 0 and bool(samples),
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        # a layer the workload does not exercise reads 0
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
