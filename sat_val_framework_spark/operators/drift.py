"""B7/B8: distribution-drift checks (KS + PSI) vs a baseline histogram.

Contract: the reference's ``perform_qc`` hook runs arbitrary quality control
per granule at load time (/root/reference/sat_val_framework/implement.py:
104,117-118); the north rule pins QC down to KS/PSI drift vs reference
distributions, computed with vectorized pandas/Arrow UDFs over per-partition
histograms.

Scale shape: the raw column is reduced to a (part_id, bin_id, count)
histogram with ONE hash-agg (partial+final, JVM-side) — at 10^12 docs the
Python boundary sees only n_parts × n_bins rows, never data rows. The KS/PSI
math runs in a grouped-map ``applyInPandas`` keyed by part_id (one tiny
pandas frame per partition, Arrow transfer both ways). This is the only
Python-UDF code in the engine.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.verdicts import ERR_EMPTY_SERIES, ERROR, FAIL, PASS

_EPS = 1e-6


def histogram(
    series: DataFrame,
    edges: tuple[float, float, int],
    part_col: str = "part_id",
    value_col: str = "value",
    null_bin: bool = False,
) -> DataFrame:
    """(part_id, value) -> (part_id, bin_id, obs_count) with fixed uniform
    bins (lo0, width, n_bins) so bin edges match baseline_stats exactly
    regardless of the data seen (SURVEY.md §7 hard part (c)).

    NULL values: excluded by default (they are stats/schema territory).
    With ``null_bin=True`` they count into bin_id -1 instead — same single
    scan/shuffle, but a partition whose series is ENTIRELY NULL still emits
    a group, so downstream never silently drops it (a dropped partition
    stays pending on every resume — ADVICE r1)."""
    lo0, width, n_bins = edges
    v = F.col(value_col).cast("double")
    binned = F.least(
        F.greatest(F.floor((v - F.lit(lo0)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    if null_bin:
        bin_id = F.when(v.isNull(), F.lit(-1)).otherwise(binned)
        src = series
    else:
        bin_id = binned
        src = series.filter(v.isNotNull())
    return src.groupBy(F.col(part_col).alias("part_id"), bin_id.alias("bin_id")).agg(
        F.count(F.lit(1)).alias("obs_count")
    )


def baseline_pd(baseline) -> pd.DataFrame:
    """A baseline (col_name, bin_id, ...) as pandas: a Spark frame becomes
    pandas with one ``toPandas``, a pandas frame passes through. Baselines
    are metadata-sized, and every reader of one goes through here."""
    return baseline if isinstance(baseline, pd.DataFrame) else baseline.toPandas()


def baseline_edges(baseline, col_name: str) -> tuple[float, float, int]:
    """Derive (lo0, width, n_bins) from the baseline_stats rows for one
    column (a pandas or a Spark baseline, see ``baseline_pd``).

    SPARSE baselines are legal: a baseline built from an empirical
    histogram naturally omits empty bins, so the grid is anchored from the
    first present row (lo0 = its bin_lo minus bin_id widths) and n_bins
    comes from the LARGEST bin_id, not the row count — `len(rows)` on a
    sparse baseline undercounted the support and made drift_scores index
    out of bounds (found driving an events.value baseline)."""
    bpd = baseline_pd(baseline)
    rows = bpd[bpd.col_name == col_name].sort_values("bin_id")
    if rows.empty:
        raise ValueError(f"no baseline_stats rows for column '{col_name}'")
    width = float(rows.bin_hi.iloc[0] - rows.bin_lo.iloc[0])
    if not (math.isfinite(width) and width > 0):
        # a zero-width bin would only fail at collect time, as a
        # DIVIDE_BY_ZERO inside the binning expression
        raise ValueError(
            f"baseline_stats bin width for column '{col_name}' must be finite and > 0, got {width}"
        )
    lo0 = float(rows.bin_lo.iloc[0]) - int(rows.bin_id.iloc[0]) * width
    return (lo0, width, int(rows.bin_id.iloc[-1]) + 1)


def ref_vector(baseline, col_name: str, n_bins: int):
    """The baseline's ref_frac per bin for one column, as an n_bins vector
    (0 where a sparse baseline omits a bin)."""
    bpd = baseline_pd(baseline)
    rows = bpd[bpd.col_name == col_name]
    ref = np.zeros(n_bins)
    ref[rows.bin_id.to_numpy()] = rows.ref_frac.to_numpy()
    return ref


def drift_scores(
    series: DataFrame,
    baseline,
    col_name: str,
    part_col: str = "part_id",
    value_col: str = "value",
) -> DataFrame:
    """-> (part_id, rows_scanned, ks, psi), one row per partition.

    Plan shape: ONE scan -> hash-agg histogram -> one tiny shuffle keyed by
    part_id -> grouped-map kernel. The reference histogram is a per-column
    constant (n_bins doubles), so it ships to the kernel as a closure
    instead of a join spine — an earlier spine-join formulation evaluated
    the (expensive) histogram subtree twice and anti-scaled with cores.
    ``baseline`` is a pandas or a Spark frame (read once, ``baseline_pd``).
    """
    bpd = baseline_pd(baseline)
    edges = baseline_edges(bpd, col_name)
    n_bins = edges[2]
    ref = ref_vector(bpd, col_name, n_bins)
    ref_cum = ref.cumsum()

    width = edges[1]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        real = pdf[pdf["bin_id"] >= 0]  # bin -1 = the NULL bin (spine only)
        counts = np.zeros(n_bins)
        counts[real["bin_id"].to_numpy()] = real["obs_count"].to_numpy()
        n = counts.sum()
        if n == 0:
            # nothing to compare: the statistic is undefined, not zero —
            # surfaced as NaN so drift_check emits a typed ERROR verdict
            ks = psi = emd = kl = float("nan")
        else:
            p = counts / n
            cdf_diff = np.abs(p.cumsum() - ref_cum)
            ks = float(cdf_diff.max())
            # Wasserstein-1 on the binned support: ∫|CDF_p − CDF_q| — in the
            # column's units (× bin width), so thresholds mean "average mass
            # moved this many units", robust where KS saturates
            emd = float(cdf_diff.sum() * width)
            pc = np.clip(p, _EPS, None)
            qc = np.clip(ref, _EPS, None)
            psi = float(((pc - qc) * np.log(pc / qc)).sum())
            # KL(observed || baseline): asymmetric surprise of seeing the
            # observed distribution when expecting the baseline — more
            # sensitive than PSI to NEW mass where the baseline is near
            # zero (an emerging value), which is the early-warning case
            kl = float((pc * np.log(pc / qc)).sum())
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "rows_scanned": [int(n)],
                "ks": [ks],
                "psi": [psi],
                "emd": [emd],
                "kl": [kl],
            }
        )

    obs = histogram(series, edges, part_col, value_col, null_bin=True)
    return obs.groupBy("part_id").applyInPandas(
        kernel, schema="part_id int, rows_scanned long, ks double, psi double, emd double, kl double"
    )


def drift_check(
    series: DataFrame,
    baseline,
    col_name: str,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.2,
    emd_threshold: float = 1.0,
    kl_threshold: float = 0.15,
    part_col: str = "part_id",
    value_col: str = "value",
    stats: tuple[str, ...] = ("ks", "psi"),
) -> tuple[DataFrame, DataFrame]:
    """-> (verdicts: one row per requested (drift_<stat>:<col>, part),
    scores). All requested statistics come from the same single-pass
    histogram; ``stats`` limits emission to the configured siblings (a suite
    asking only for KS must not gain PSI verdicts with a made-up threshold —
    ADVICE r1). A partition with zero non-NULL observations gets a typed
    ERROR verdict (EmptySeriesError) instead of silently vanishing."""
    scores = drift_scores(series, baseline, col_name, part_col, value_col)
    empty_samples = F.array().cast("array<string>")
    thresholds = {"ks": ks_threshold, "psi": psi_threshold, "emd": emd_threshold, "kl": kl_threshold}

    def verdict(stat: str) -> DataFrame:
        threshold = thresholds[stat]
        empty = F.col("rows_scanned") == 0
        return scores.select(
            F.lit(f"drift_{stat}:{col_name}").alias("constraint_id"),
            F.col("part_id"),
            F.when(empty, F.lit(ERROR))
            .when(F.col(stat) > threshold, F.lit(FAIL))
            .otherwise(F.lit(PASS))
            .alias("status"),
            F.when(empty, F.lit(ERR_EMPTY_SERIES)).alias("error_kind"),
            F.col("rows_scanned"),
            F.when(empty | (F.col(stat) > threshold), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("violation_count"),
            empty_samples.alias("sample_violations"),
        )

    parts = [verdict(s) for s in stats]
    verdicts = parts[0]
    for v in parts[1:]:
        verdicts = verdicts.unionByName(v)
    return verdicts, scores


def categorical_verdicts_from_scores(
    scores: DataFrame,
    constraint_id: str,
    tv_threshold: float,
    js_threshold: float | None = None,
) -> DataFrame:
    """Shared verdict builder for the 'drift_categorical' check kind: turns
    (part_id, n_obs, tv, js) score rows into standard verdict rows. Used by
    BOTH the modular categorical_drift_check and the fused suite so
    thresholds, sample strings, and ERROR semantics are literally the same
    expressions on both paths (the profile_verdicts_from_wide pattern).

    n_obs = non-NULL series observations; a partition with zero gets a
    typed EmptySeriesError verdict (drift of nothing is undefined)."""
    empty = F.col("n_obs") == 0
    checks: list[tuple] = [
        (
            F.col("tv") > tv_threshold,
            F.concat(F.lit("tv="), F.round(F.col("tv"), 4).cast("string"),
                     F.lit(f">{tv_threshold}")),
        )
    ]
    if js_threshold is not None:
        checks.append(
            (
                F.col("js") > js_threshold,
                F.concat(F.lit("js="), F.round(F.col("js"), 4).cast("string"),
                         F.lit(f">{js_threshold}")),
            )
        )
    viol = None
    for cond, _ in checks:
        v = cond.cast("long")
        viol = v if viol is None else viol + v
    samples = F.sort_array(
        F.filter(
            F.array(*[F.when(cond, msg) for cond, msg in checks]),
            lambda x: x.isNotNull(),
        )
    )
    return scores.select(
        F.lit(constraint_id).alias("constraint_id"),
        F.col("part_id"),
        F.when(empty, F.lit(ERROR))
        .when(viol > 0, F.lit(FAIL))
        .otherwise(F.lit(PASS))
        .alias("status"),
        F.when(empty, F.lit(ERR_EMPTY_SERIES)).alias("error_kind"),
        F.col("n_obs").cast("long").alias("rows_scanned"),
        F.when(empty, F.lit(1)).otherwise(F.coalesce(viol, F.lit(0))).cast("long").alias(
            "violation_count"
        ),
        F.when(~empty, samples).otherwise(F.array().cast("array<string>")).alias(
            "sample_violations"
        ),
    )


def categorical_drift_scores(
    series: DataFrame,
    baseline_cat: DataFrame,
    col_name: str,
    part_col: str = "part_id",
    value_col: str = "value",
) -> DataFrame:
    """-> (part_id, n_obs, tv, js): per-partition total-variation distance
    and Jensen-Shannon divergence of a categorical series vs a CONFIGURED
    baseline distribution (col_name, value, ref_frac) — the suite-kind twin
    of ``categorical_drift`` (which compares groups to the GLOBAL mix).

    Series convention (mirrors histogram's bin −1): a NULL ``value`` is a
    presence-only marker — it keeps a partition whose docs produced no
    category observations visible (so it gets an ERROR verdict instead of
    silently vanishing and staying pending on every resume) without
    counting toward the distribution. Callers that want NULL *category*
    semantics coalesce to a sentinel before handing the series in.

    Scale shape: one (part, value) hash-agg + one per-part total agg; the
    baseline is a broadcast dimension joined onto the per-part spine, so
    only distinct (part, value) pairs cross any shuffle. Categories absent
    from a partition contribute (p=0, q>0); categories absent from the
    BASELINE contribute (p>0, q=0) via an anti-join branch — both sides of
    the support matter or drift is understated."""
    bvals = baseline_cat.filter(F.col("col_name") == col_name).select(
        F.col("value"), F.col("ref_frac").cast("double").alias("q")
    )
    v = F.col(value_col)
    obs = (
        series.filter(v.isNotNull())
        .groupBy(F.col(part_col).alias("part_id"), v.alias("value"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = series.groupBy(F.col(part_col).alias("part_id")).agg(
        F.count(v).alias("n_obs")
    )
    spine = totals.crossJoin(F.broadcast(bvals))
    # try_divide: a partition with ONLY presence markers has n_obs=0 and
    # ANSI mode (Spark 4 default) raises on the division — NULL fractions
    # are correct there (the verdict builder turns n_obs=0 into ERROR)
    matched = spine.join(obs, ["part_id", "value"], "left").select(
        "part_id",
        "n_obs",
        F.try_divide(F.coalesce(F.col("c"), F.lit(0)), F.col("n_obs")).alias("p"),
        F.col("q"),
    )
    extra = (
        obs.join(F.broadcast(bvals.select("value")), "value", "left_anti")
        .join(totals, "part_id")
        .select(
            "part_id",
            "n_obs",
            F.try_divide(F.col("c"), F.col("n_obs")).alias("p"),
            F.lit(0.0).alias("q"),
        )
    )
    rows = matched.unionByName(extra)
    m = (F.col("p") + F.col("q")) / 2
    js_term = (
        F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(F.lit(0.0))
    ) / 2
    return rows.groupBy("part_id").agg(
        F.max("n_obs").alias("n_obs"),
        F.sum(F.abs(F.col("p") - F.col("q"))).alias("l1"),
        F.sum(js_term).alias("js"),
    ).select(
        "part_id", "n_obs", (F.col("l1") / 2).alias("tv"), "js"
    )


def categorical_drift_check(
    series: DataFrame,
    baseline_cat: DataFrame,
    col_name: str,
    tv_threshold: float = 0.1,
    js_threshold: float | None = None,
    part_col: str = "part_id",
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """-> (verdicts, scores) for categorical drift vs a configured baseline
    — the 'drift_categorical' suite kind (A6/A11 realized for unordered
    columns: event types, sources, span kinds, language codes).

    Eagerly rejects a baseline with no rows for ``col_name`` (driver-side
    probe — CONFIGURED baselines are metadata-sized, same contract as
    baseline_edges and the fused twin): a misnamed col_name would
    otherwise score uniform tv=0.5 everywhere, and presence-marker-only
    partitions would lose their verdict row entirely (pending on every
    resume). Callers that derive the baseline from a big frame and know
    it is non-empty use ``categorical_drift_scores`` directly — the probe
    lives HERE, not in the scores builder, so the score path never pays
    an extra job (review finding r4)."""
    if (
        baseline_cat.filter(F.col("col_name") == col_name).limit(1).count() == 0
    ):
        raise ValueError(f"no baseline_cat rows for column '{col_name}'")
    scores = categorical_drift_scores(series, baseline_cat, col_name, part_col, value_col)
    return (
        categorical_verdicts_from_scores(
            scores, f"drift_categorical:{col_name}", tv_threshold, js_threshold
        ),
        scores,
    )


def categorical_drift(
    df: DataFrame,
    col: str,
    group_col: str,
    tv_threshold: float = 0.1,
) -> DataFrame:
    """Categorical drift per group vs the GLOBAL category distribution:
    total-variation distance (half the L1 — the categorical analogue of
    KS) and Jensen-Shannon divergence (symmetric, bounded by ln 2, defined
    even where one side has zero mass — no eps clamping needed). The
    numeric drift family (KS/PSI/EMD/KL) bins ordered values; categories
    have no order, so these are the right statistics for event types,
    sources, language codes.

    Scale shape: one hash-agg per (group, value) + one per value (the
    global frequencies ride a broadcast join onto the group rows), then a
    per-group re-agg — only distinct (group, value) pairs cross any
    shuffle. NULL categories count as a category (a surge of NULLs IS
    drift) — coalesced to a '<NULL>' sentinel BEFORE grouping, because the
    spine equi-join would silently drop a NULL key (NULL never equi-joins)
    and overstate every group's drift. Output: one row per group with
    n_rows, tv, js, drifted."""
    cat = F.coalesce(F.col(col).cast("string"), F.lit("<NULL>"))
    gv = df.groupBy(F.col(group_col).alias("grp"), cat.alias("value")).agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = gv.groupBy("grp").agg(F.sum("c").alias("t"))
    glob = gv.groupBy("value").agg(F.sum("c").alias("g"))
    nall = glob.agg(F.sum("g").alias("n_all"))
    # spine: every (grp, value) pair, so categories ABSENT from a group
    # still contribute (p=0 vs q>0) — dropping them understates drift.
    # NULL-SAFE join on grp: the GROUP key can be NULL too (source/language
    # grouping columns), and a plain equi-join would match none of the NULL
    # group's categories, reporting near-maximal drift for it regardless of
    # its actual distribution (review finding, reproduced: tv=0.5 for a
    # group identical to the global mix)
    spine = totals.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(nall))
    gvr = gv.select(
        F.col("grp").alias("__g"), F.col("value").alias("__v"), F.col("c")
    )
    full = spine.join(
        gvr,
        spine["grp"].eqNullSafe(gvr["__g"]) & (spine["value"] == gvr["__v"]),
        "left",
    ).select(
        "grp",
        "t",
        (F.coalesce(F.col("c"), F.lit(0)) / F.col("t")).alias("p"),
        (F.col("g") / F.col("n_all")).alias("q"),
    )
    ln = F.log
    m = (F.col("p") + F.col("q")) / 2
    # 0*ln(0/x) terms are 0 by convention: guard with when(p>0)
    js_term = (
        F.when(F.col("p") > 0, F.col("p") * ln(F.col("p") / m)).otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0, F.col("q") * ln(F.col("q") / m)).otherwise(F.lit(0.0))
    ) / 2
    return full.groupBy("grp").agg(
        F.max("t").alias("n_rows"),
        F.round(F.sum(F.abs(F.col("p") - F.col("q"))) / 2, 6).alias("tv"),
        F.round(F.sum(js_term), 6).alias("js"),
        (F.sum(F.abs(F.col("p") - F.col("q"))) / 2 > tv_threshold).alias("drifted"),
    )
