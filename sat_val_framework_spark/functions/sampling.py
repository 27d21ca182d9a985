"""Deterministic sampling operators for training-data pipelines.

Training pipelines cannot use ``df.sample`` (seeded per-partition RNG:
results change with partitioning, retries, and cluster size). These
operators hash the ROW KEY instead: a row's membership depends only on
(key, salt), so samples are reproducible across runs, clusters, and
re-partitioning, and the same key always lands on the same side — the
property train/test splits and A/B holdouts actually require.

The hash is md5 (``text.hex60``), which ANSI SQL reproduces bit for bit,
so the DuckDB oracle twins check which rows are kept, not just how many.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sat_val_framework_spark.functions.text import hex60

_BUCKETS = 1_000_000  # hash-fraction resolution: 1e-6


def _key_bucket(key: Column, salt: str) -> Column:
    """Deterministic bucket in [0, 1e6) from (key, salt)."""
    h = hex60(F.md5(F.concat_ws(":", F.lit(salt), key.cast("string"))))
    return F.pmod(h, F.lit(_BUCKETS))


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "v1",
) -> DataFrame:
    """Keep rows whose key hashes below ``fraction``: deterministic,
    repartition-invariant sampling. All rows of a key are kept or dropped
    TOGETHER (key-consistent), so joins between two hash_sample'd tables
    on the same key/salt stay complete. Pure column predicate — pushed
    into the scan, no shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_key_bucket(F.col(key_col), salt) < int(fraction * _BUCKETS))


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    salt: str = "split-v1",
) -> DataFrame:
    """Stable train/test assignment as a COLUMN (not two frames): split is
    a pure function of (key, salt) — no key ever migrates between sides
    across runs or data growth, the leakage guarantee evaluation needs."""
    test = _key_bucket(F.col(key_col), salt) < int(test_fraction * _BUCKETS)
    return df.withColumn("split", F.when(test, F.lit("test")).otherwise(F.lit("train")))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "v1",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample boilerplate
    sources, keep all rare ones): each stratum gets its own keep-fraction;
    unlisted strata get ``default_fraction``. The threshold is a small
    when-chain (strata lists are metadata-sized), the hash is computed
    once — still a pure pushed-down predicate."""
    thr = F.lit(int(default_fraction * _BUCKETS))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(int(frac * _BUCKETS))).otherwise(thr)
    return df.filter(_key_bucket(F.col(key_col), salt) < thr)


def target_mix_fractions(
    df: DataFrame, strata_col: str, targets: dict[str, float]
) -> dict[str, float]:
    """Max-retention per-stratum keep fractions realizing a TARGET MIX —
    the domain-reweighting step of a training-data pipeline ("make the
    corpus 50% web, 25% code, ...") turned into inputs for
    ``stratified_sample``.

    The bottleneck stratum (smallest count relative to its target share)
    is kept whole and every other stratum is downsampled to match:
    ``scale = min_s(count_s / target_s)`` is the largest total corpus
    achieving the exact mix, and stratum s keeps ``target_s * scale``
    rows. One hash-agg over the table; the collect is metadata-sized
    (#strata rows). Strata absent from ``targets`` (or from the data) get
    no fraction — ``stratified_sample``'s default_fraction drops them,
    which is the intended semantics for "everything else" buckets."""
    if not targets or any(t < 0 for t in targets.values()):
        raise ValueError("targets must be non-empty with non-negative shares")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }  # metadata-sized: one row per stratum
    present = {s: t for s, t in targets.items() if s in counts and t > 0}
    if not present:
        raise ValueError(
            f"no stratum in targets {sorted(targets)} present in column '{strata_col}'"
        )
    scale = min(counts[s] / t for s, t in present.items())
    return {s: min(1.0, (t * scale) / counts[s]) for s, t in present.items()}


def mix_sample(
    df: DataFrame,
    strata_col: str,
    targets: dict[str, float],
    key_col: str,
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministically sample ``df`` so the surviving rows follow the
    target mix over ``strata_col`` at maximum retention (the bottleneck
    stratum survives whole). Composition: ``target_mix_fractions`` (one
    agg + metadata collect) feeding ``stratified_sample`` (pure pushed-down
    hash predicate) — the whole operator is ONE extra aggregation job over
    plain stratified sampling, and membership stays a function of
    (key, salt): stable across runs, clusters, and repartitioning."""
    fractions = target_mix_fractions(df, strata_col, targets)
    return stratified_sample(
        df, strata_col, fractions, key_col, default_fraction=0.0, salt=salt
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    salt: str = "w1",
) -> DataFrame:
    """Per-row Bernoulli keep with probability = the row's own weight
    (clipped to [0, 1]; NULL weight = drop) — "sample proportional to
    quality score", the soft version of a hard quality cutoff. Membership
    is still a pure function of (key, salt) like every sampler here: the
    weight moves the threshold, the hash supplies the determinism, so a
    rerun, retry, or repartition keeps exactly the same rows, and the
    SAME key keeps the same draw across tables (a doc and its spans
    sampled with one salt survive together when their weights match).
    Pure pushed-down predicate; no shuffle, no RNG."""
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(
        _key_bucket(F.col(key_col), salt) < (w * _BUCKETS).cast("long")
    )


def top_fraction_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    fraction: float,
    id_col: str,
) -> DataFrame:
    """Quality gate with EXACT count semantics: keep the top
    ``ceil(fraction * n_group)`` rows of each group by ``score_col``
    (ties -> lowest ``id_col``, so the kept set is deterministic and
    repartition-invariant). "Keep the best 25% of each source by quality
    score" — the selection step after scoring in a training pipeline.

    Plan shape: ONE shuffle on ``group_col`` feeding two window functions
    over the same partition spec (row_number + count), then a filter —
    Spark stacks both Window nodes on one Exchange + Sort (plan-audited:
    no second exchange; the unordered count window needs no re-sort). The
    per-group sort is the cost; for tables where a group exceeds executor
    memory, use ``quantile_threshold_filter`` (mergeable sketch, no sort)
    and accept approximate counts."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    w = Window.partitionBy(group_col).orderBy(F.col(score_col).desc(), F.col(id_col))
    wc = Window.partitionBy(group_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") <= F.ceil(F.lit(fraction) * F.col("_cnt")))
        .drop("_rn", "_cnt")
    )


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    fraction: float,
    group_col: str | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """The 10^12-row path of ``top_fraction_per_group``: keep rows whose
    score is at or above the (1 - fraction) approximate quantile (per
    group when ``group_col`` is given). ``percentile_approx`` is a
    MERGEABLE sketch — partial aggregation map-side, #groups rows cross
    the shuffle, and no per-group sort ever happens; the thresholds come
    back via a broadcast join. Kept counts are approximate at sketch
    accuracy (1/accuracy quantile error) and rows tied at the threshold
    all survive — exactness is what ``top_fraction_per_group`` is for."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    q = F.percentile_approx(score_col, F.lit(1.0 - fraction), F.lit(accuracy)).alias("_thr")
    if group_col is None:
        thr = df.agg(q)
        return df.join(F.broadcast(thr)).filter(F.col(score_col) >= F.col("_thr")).drop("_thr")
    thr = df.groupBy(group_col).agg(q)
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(F.col(score_col) >= F.col("_thr"))
        .drop("_thr")
    )
