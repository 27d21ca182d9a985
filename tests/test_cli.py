"""The ``python -m sat_val_framework_spark`` entry point, end to end: the
seeded fixture written to parquet, run twice with one run id. The second
run resumes from the checkpoint and emits nothing."""

import os
import subprocess
import sys

from sat_val_framework_spark import fixtures as fx

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*args: str) -> subprocess.CompletedProcess:
    # a second JVM next to the test session's: keep its heap small
    env = dict(
        os.environ,
        PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_DRIVER_MEM="2g",
    )
    return subprocess.run(
        [sys.executable, "-m", "sat_val_framework_spark", "--master", "local[2]", *args],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )


def test_cli_runs_then_resumes(spark, docs, catalog, baseline, baseline_cat, tmp_path):
    paths = {}
    for name, frame in [("docs", docs), ("catalog", catalog), ("baseline", baseline),
                        ("baseline-cat", baseline_cat)]:
        paths[name] = str(tmp_path / name)
        frame.write.parquet(paths[name])
    args = ["--docs", paths["docs"], "--catalog", paths["catalog"],
            "--baseline", paths["baseline"], "--baseline-cat", paths["baseline-cat"],
            "--checkpoint", str(tmp_path / "ckpt"), "--run-id", "cli"]
    n_pairs = 13 * fx.N_PARTS  # DEFAULT_SUITE x partitions

    first = _cli(*args)
    assert first.returncode == 0, first.stderr[-2000:]
    assert f"run cli: emitted {n_pairs} verdicts, skipped 0 " in first.stdout

    second = _cli(*args)
    assert second.returncode == 0, second.stderr[-2000:]
    assert f"run cli: emitted 0 verdicts, skipped {n_pairs} " in second.stdout


def test_cli_requires_the_dimension_inputs():
    """No fixture fallback: a run without a catalog or baselines is refused
    before any Spark session starts."""
    out = _cli("--docs", "d", "--checkpoint", "c")
    assert out.returncode == 2
    for flag in ("--catalog", "--baseline", "--baseline-cat"):
        assert flag in out.stderr
