"""B7/B8: distribution-drift checks (KS + PSI) vs a baseline histogram.

Contract: the reference's ``perform_qc`` hook runs arbitrary quality control
per granule at load time (/root/reference/sat_val_framework/implement.py:
104,117-118); the north rule pins QC down to KS/PSI drift vs reference
distributions over per-partition histograms.

Scale shape: the raw column is reduced to one ``array<bigint>`` of bin
counts per partition with ONE hash-agg (one ``sum(CASE ...)`` counter per
bin, partial+final, JVM-side), then ``drift_fold`` folds each array
against the baseline with ``zip_with``/``aggregate`` into one struct
column of scores — plain column expressions over n_parts rows, no Python
worker and no second shuffle. ``drift_check`` takes its verdicts
(``drift_verdict``) from that struct and returns its fields as flat
score columns next to them. The fused suite passes run the same
``drift_fold`` and ``drift_verdict`` on their own bin counters, so both
paths compute every score with the same expressions.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.verdicts import (
    EMPTY_SAMPLES_SQL,
    ERR_EMPTY_SERIES,
    ERROR,
    FAIL,
    PASS,
    _d,
    verdict_rows,
)

_EPS = 1e-6


def _hist_counters(col: str, edges: tuple[float, float, int]) -> list[str]:
    """One ``sum(CASE ...)`` agg counter per bin of ``col`` (SQL text), on
    the fixed uniform grid (lo0, width, n_bins) of the baseline, so bin
    edges match baseline_stats exactly whatever the data (SURVEY.md §7 hard
    part (c)): floor, clamped to [0, n_bins); NULLs count nowhere (they are
    stats/schema territory). A group whose values are all NULL still gets
    its row of zero counters, so an all-NULL partition is scored (n = 0),
    never dropped."""
    lo0, width, n_bins = edges
    bin_sql = (
        f"CAST(least(greatest(floor((CAST({col} AS DOUBLE) - {_d(lo0)}) / {_d(width)}), 0), "
        f"{n_bins - 1}) AS INT)"
    )
    return [
        f"sum(CASE WHEN {col} IS NOT NULL AND {bin_sql} = {b} THEN 1 ELSE 0 END)"
        for b in range(n_bins)
    ]


def drift_fold(counts: str, name: str, ref: np.ndarray, width: float) -> list[str]:
    """SQL select items that put one partition's drift scores into the
    struct column ``name``: (rows_scanned, ks, psi, emd, kl), where
    ``counts`` is SQL text of the partition's ``array<bigint>`` of bin
    counts and ``ref`` the baseline's ref_frac per bin. The items use
    lateral aliases (``<name>_h``, ``<name>_n``), so they go into ONE
    select next to any other column. rows_scanned is the number of
    observations n; with n = 0 every score is NaN (drift of nothing is
    undefined; ``drift_verdict`` makes it a typed ERROR).

    The reference vector enters as DOUBLE literals (``_d``: numbers,
    never strings spliced into SQL). The p = c / n division runs against a
    NULL for n = 0, so ANSI mode never sees a division by zero. KS keeps
    numpy's order (each count divided by n, then the running sum), so it is
    bit-identical to ``np.abs(p.cumsum() - ref.cumsum()).max()``; PSI, EMD
    and KL fold their terms left to right, which can differ from numpy's
    pairwise ``sum`` in the last ulp.

    - KS: max |CDF_p - CDF_q|.
    - EMD: Wasserstein-1 on the binned support, sum |CDF_p - CDF_q| x bin
      width — in the column's units, so a threshold means "average mass
      moved this many units", robust where KS saturates.
    - PSI: sum (p - q) ln(p / q), both clipped at ``_EPS``.
    - KL(observed || baseline): sum p ln(p / q), clipped the same way;
      more sensitive than PSI to NEW mass where the baseline is near zero
      (an emerging value), the early-warning case."""
    ref = np.asarray(ref, dtype=np.float64)
    bins = ", ".join(
        f"named_struct('rc', {_d(rc)}, 'q', {_d(q)})"
        for rc, q in zip(ref.cumsum(), np.clip(ref, _EPS, None))
    )
    h, n = f"{name}_h", f"{name}_n"
    # n = 0 divides by NULL: ANSI mode raises on x / 0.0D
    nd = f"nullif(CAST({n} AS DOUBLE), 0.0D)"
    terms = (
        f"zip_with({h}, array({bins}), (c, r) -> named_struct('p', c / {nd}, "
        f"'pc', greatest(c / {nd}, {_d(_EPS)}), 'rc', r.rc, 'q', r.q))"
    )
    step = (
        "(a, x) -> named_struct('cum', a.cum + x.p, "
        "'ks', greatest(a.ks, abs(a.cum + x.p - x.rc)), "
        "'cdf', a.cdf + abs(a.cum + x.p - x.rc), "
        "'psi', a.psi + (x.pc - x.q) * ln(x.pc / x.q), "
        "'kl', a.kl + x.pc * ln(x.pc / x.q))"
    )
    zero = "named_struct('cum', 0.0D, 'ks', 0.0D, 'cdf', 0.0D, 'psi', 0.0D, 'kl', 0.0D)"
    score = {"ks": "s.ks", "psi": "s.psi", "emd": f"s.cdf * {_d(width)}", "kl": "s.kl"}
    scores = ", ".join(
        f"'{st}', IF({n} = 0, CAST('NaN' AS DOUBLE), {e})" for st, e in score.items()
    )
    return [
        f"{counts} AS {h}",
        f"aggregate({h}, 0L, (t, c) -> t + c) AS {n}",
        f"aggregate({terms}, {zero}, {step}, s -> named_struct('rows_scanned', {n}, {scores}))"
        f" AS {name}",
    ]


def drift_verdict(src: str, constraint_id: str, stat: str, threshold: float) -> Column:
    """One drift verdict row (a struct for ``verdict_rows``) over ``src``,
    a ``drift_fold`` struct column next to ``part_id``: FAIL when ``stat``
    exceeds ``threshold``, a typed ERROR (EmptySeriesError) for a
    partition with no observations. ``constraint_id`` may name an outside
    column, so it stays an ``F.lit``."""
    n = f"{src}.rows_scanned"
    empty, bad = f"{n} = 0", f"{src}.{stat} > {_d(threshold)}"
    return F.struct(
        F.lit(constraint_id).alias("constraint_id"),
        F.col("part_id"),
        F.expr(
            f"CASE WHEN {empty} THEN '{ERROR}' WHEN {bad} THEN '{FAIL}' ELSE '{PASS}' END"
        ).alias("status"),
        F.expr(f"CASE WHEN {empty} THEN '{ERR_EMPTY_SERIES}' END").alias("error_kind"),
        F.expr(n).alias("rows_scanned"),
        F.expr(f"CAST({empty} OR {bad} AS BIGINT)").alias("violation_count"),
        F.expr(EMPTY_SAMPLES_SQL).alias("sample_violations"),
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
    sparse baseline undercounted the support and made the drift fold index
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
    scores: (part_id, rows_scanned, ks, psi, emd, kl) per partition). All
    requested statistics come from the same single-pass histogram;
    ``stats`` limits emission to the configured siblings (a suite asking
    only for KS must not gain PSI verdicts with a made-up threshold —
    ADVICE r1). A partition with zero non-NULL observations gets a typed
    ERROR verdict (EmptySeriesError) instead of silently vanishing.

    Plan shape: ONE scan -> one ``groupBy(part_id)`` hash-agg of per-bin
    counters -> ``drift_fold`` on its n_parts rows, whose struct feeds both
    the verdicts and the flat scores. The reference histogram is a
    per-column constant (n_bins doubles), so it enters as literals instead
    of a join spine — an earlier spine-join formulation evaluated the
    (expensive) histogram subtree twice and anti-scaled with cores.
    ``baseline`` is a pandas or a Spark frame (read once, ``baseline_pd``)."""
    bpd = baseline_pd(baseline)
    edges = baseline_edges(bpd, col_name)
    value = "`" + value_col.replace("`", "``") + "`"
    hist = series.groupBy(F.col(part_col).alias("part_id")).agg(
        F.expr(f"array({', '.join(_hist_counters(value, edges))}) AS counts")
    )
    frame = hist.selectExpr(
        "part_id", *drift_fold("counts", "s", ref_vector(bpd, col_name, edges[2]), edges[1])
    )
    thresholds = {"ks": ks_threshold, "psi": psi_threshold, "emd": emd_threshold, "kl": kl_threshold}
    verdicts = verdict_rows(
        frame,
        *[drift_verdict("s", f"drift_{st}:{col_name}", st, thresholds[st]) for st in stats],
    )
    return verdicts, frame.select("part_id", "s.*")


def categorical_verdict(
    src: str,
    constraint_id: str,
    tv_threshold: float,
    js_threshold: float | None = None,
) -> Column:
    """One 'drift_categorical' verdict row (a struct for ``verdict_rows``)
    over ``src``, a struct column of (n_obs, tv, js) next to ``part_id``.
    Used by BOTH the modular categorical_drift_check and the fused suite
    so thresholds, sample strings, and ERROR semantics are literally the
    same expressions on both paths (the ``profile_verdict`` pattern).

    n_obs = non-NULL series observations; a partition with zero gets a
    typed EmptySeriesError verdict (drift of nothing is undefined)."""
    n_obs, tv, js = (F.col(f"{src}.{f}") for f in ("n_obs", "tv", "js"))
    empty = n_obs == 0
    checks: list[tuple] = [
        (
            tv > tv_threshold,
            F.concat(F.lit("tv="), F.round(tv, 4).cast("string"), F.lit(f">{tv_threshold}")),
        )
    ]
    if js_threshold is not None:
        checks.append(
            (
                js > js_threshold,
                F.concat(F.lit("js="), F.round(js, 4).cast("string"), F.lit(f">{js_threshold}")),
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
    return F.struct(
        F.lit(constraint_id).alias("constraint_id"),
        F.col("part_id"),
        F.when(empty, F.lit(ERROR)).when(viol > 0, F.lit(FAIL)).otherwise(F.lit(PASS)).alias(
            "status"
        ),
        F.when(empty, F.lit(ERR_EMPTY_SERIES)).alias("error_kind"),
        n_obs.cast("long").alias("rows_scanned"),
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
    """-> (part_id, n_obs, tv, js), one row per partition: the fields of
    ``_categorical_frame``'s struct as flat columns."""
    return _categorical_frame(series, baseline_cat, col_name, part_col, value_col).select(
        "part_id", "c.*"
    )


def _categorical_frame(
    series: DataFrame, baseline_cat: DataFrame, col_name: str, part_col: str, value_col: str
) -> DataFrame:
    """-> (part_id, c), ``c`` a struct (n_obs, tv, js) for
    ``categorical_verdict``: per-partition total-variation distance
    and Jensen-Shannon divergence of a categorical series vs a CONFIGURED
    baseline distribution (col_name, value, ref_frac) — the suite-kind twin
    of ``categorical_drift`` (which compares groups to the GLOBAL mix).

    Series convention (as in ``drift_check``, where an all-NULL partition
    keeps its row of zero counters): a NULL ``value`` is a
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
        "part_id", F.struct("n_obs", (F.col("l1") / 2).alias("tv"), "js").alias("c")
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
    frame = _categorical_frame(series, baseline_cat, col_name, part_col, value_col)
    verdicts = verdict_rows(
        frame,
        categorical_verdict("c", f"drift_categorical:{col_name}", tv_threshold, js_threshold),
    )
    return verdicts, frame.select("part_id", "c.*")


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
