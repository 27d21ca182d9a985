"""The SQL folds behind the drift scores and the exact quantile against
independent numpy references, over generated inputs (Hypothesis draws the
shape and a seed; ``np.random.default_rng(seed)`` draws the numbers)."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from sat_val_framework_spark.operators.drift import drift_fold
from sat_val_framework_spark.operators.stats import exact_quantile_sql

_EPS = 1e-6
_SETTINGS = settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))


def _numpy_drift(counts: np.ndarray, ref: np.ndarray, width: float):
    """(n, ks, psi, emd, kl) of one partition's bin counts vs ``ref``."""
    n = int(counts.sum())
    if n == 0:
        return (0, *[float("nan")] * 4)
    p = counts / n
    cdf = np.abs(np.cumsum(p) - np.cumsum(ref))
    pc, qc = np.maximum(p, _EPS), np.maximum(ref, _EPS)
    return (
        n,
        float(cdf.max()),
        float(((pc - qc) * np.log(pc / qc)).sum()),
        float(cdf.sum() * width),
        float((pc * np.log(pc / qc)).sum()),
    )


@seed(311)
@_SETTINGS
@given(
    n_bins=st.integers(1, 40),
    rng_seed=st.integers(0, 2**31 - 1),
    zero_frac=st.floats(0.0, 0.9),
    ref_zero_frac=st.floats(0.0, 0.9),
    width=st.sampled_from([0.25, 1.0, 10.0]),
)
def test_drift_stats_match_numpy(spark, n_bins, rng_seed, zero_frac, ref_zero_frac, width):
    """KS within 1e-12 (same division-then-running-sum order as numpy),
    PSI/EMD/KL within 1e-9, on zero bins, n = 0, a single occupied bin and
    sparse baselines (ref_frac = 0 bins clip at eps); n = 0 scores NaN."""
    rng = np.random.default_rng(rng_seed)
    ref = rng.random(n_bins)
    ref[rng.random(n_bins) < ref_zero_frac] = 0.0
    ref[rng.integers(n_bins)] += 0.5  # at least one bin with baseline mass
    ref /= ref.sum()
    counts = rng.integers(0, 1_000, size=(6, n_bins))
    counts[rng.random(counts.shape) < zero_frac] = 0
    counts[0] = 0  # no observations
    counts[1] = 0
    counts[1, rng.integers(n_bins)] = rng.integers(1, 10**9)  # one occupied bin
    frame = spark.createDataFrame(
        [(i, [int(c) for c in row]) for i, row in enumerate(counts)],
        "part_id int, counts array<bigint>",
    )
    scores = frame.selectExpr("part_id", *drift_fold("counts", "s", ref, width))
    got = {r["part_id"]: r for r in scores.select("part_id", "s.*").collect()}
    for i, row in enumerate(counts):
        n, ks, psi, emd, kl = _numpy_drift(row, ref, width)
        r = got[i]
        assert r["rows_scanned"] == n
        if n == 0:
            assert all(np.isnan(r[s]) for s in ("ks", "psi", "emd", "kl"))
            continue
        assert r["ks"] == pytest.approx(ks, abs=1e-12)
        assert r["psi"] == pytest.approx(psi, abs=1e-9)
        assert r["emd"] == pytest.approx(emd, abs=1e-9)
        assert r["kl"] == pytest.approx(kl, abs=1e-9)


@seed(312)
@_SETTINGS
@given(
    domain=st.integers(1, 12),
    rng_seed=st.integers(0, 2**31 - 1),
    q=st.one_of(st.sampled_from([0.0, 0.5, 1.0]), st.floats(0.0, 1.0)),
)
def test_exact_quantile_matches_numpy(spark, domain, rng_seed, q):
    """The quantile fold over (in-domain counters ++ out-of-domain pairs),
    as the fused Pass A lays them out — a value past the counters may
    come in several (v, c) pairs, one per input split — equals
    ``np.percentile(values, 100 q, method="linear")``; n = 0 gives NULL."""
    rng = np.random.default_rng(rng_seed)
    rows, values = [], []
    for part in range(8):
        pv = rng.integers(0, 6, size=domain) * (rng.random(domain) < 0.6)
        vc = [
            (int(v), int(c))
            for v, c in zip(rng.integers(domain, domain + 5, size=4), rng.integers(1, 4, size=4))
            if rng.random() < 0.5
        ]
        if part == 0:  # n = 0
            pv, vc = pv * 0, []
        elif part == 1:  # n = 1, in domain
            pv, vc = pv * 0, []
            pv[rng.integers(domain)] = 1
        elif part == 2:  # n = 1, out of domain
            pv, vc = pv * 0, [(domain + 2, 1)]
        rows.append((part, [int(c) for c in pv], vc))
        values.append(
            np.repeat(
                np.concatenate([np.arange(domain), [v for v, _ in vc]]).astype(np.float64),
                np.concatenate([pv, [c for _, c in vc]]).astype(np.int64),
            )
        )
    frame = spark.createDataFrame(
        rows, "part_id int, pv array<bigint>, vc array<struct<v: int, c: bigint>>"
    )
    got = {
        r["part_id"]: r["qv"]
        for r in frame.selectExpr(
            "part_id",
            "array_sort(concat(transform(pv, (c, i) -> named_struct('v', i, 'c', c)), vc))"
            " AS value_counts",
        )
        .selectExpr(
            "part_id", "value_counts", "aggregate(value_counts, 0L, (t, x) -> t + x.c) AS n"
        )
        .selectExpr("part_id", f"{exact_quantile_sql('value_counts', 'n', q)} AS qv")
        .collect()
    }
    for part, vals in enumerate(values):
        if len(vals) == 0:
            assert got[part] is None
        else:
            expected = float(np.percentile(vals, 100 * q, method="linear"))
            assert got[part] == pytest.approx(expected, rel=1e-12, abs=1e-12), (part, q)
