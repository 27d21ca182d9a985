"""Fused suite execution: the shared passes ``runner.run_suite`` runs its
fusible checks through.

SURVEY.md §4 flags multi-constraint scan sharing as the one optimization
Catalyst cannot do for us: independent check plans mean one scan of the
documents table per check and ~20 sequential stage waves. ``fusible``
decides, from a check and its inputs, whether these passes compute that
check's exact answer; ``run_suite`` runs two or more fusible checks as one
group through ``fused_verdicts`` (whose verdict rows equal each check's own
operator, tested) and every other check on its own. Each pass is built only
when one of its checks fused, and each counter family only for the checks
that use it:

- **Pass A (doc-level)**: ONE ``groupBy(part_id)`` hash-agg computes the
  schema assertion counters, per-column stats, AND the n_spans histogram
  (one ``sum(CASE WHEN bin = b ...)`` per bin — n_bins extra agg
  expressions, not an extra shuffle). Whole-stage codegen keeps it one
  pipeline. Its rows (one per partition) are the spine of the
  per-partition frame, so it is always built. n_spans values past the
  profile counters are a level-1 group key, so the same agg lists them
  with exact counts.
- **Pass B (span-level)**: ONE ``posexplode`` + broadcast catalog join +
  ``groupBy(part_id)`` computes the text_len histogram AND the media_ref
  orphan counters in the same aggregation — the two span consumers share
  the explode instead of re-scanning. Its counters are left-joined onto
  Pass A's rows.
- **Pass C**: doc_id uniqueness AND the fd:doc_id->part_id dependency from
  ONE aggregate by key (its own shuffle, unavoidable — but both global
  constraints share it); the per-part violation counts and samples are
  pivoted by constraint to one row per partition.

KS/PSI, the exact quantile and every other score are column expressions
over that per-partition frame (n_parts rows): the drift histograms go
through ``operators.drift.drift_fold``, the same ``zip_with`` /
``aggregate`` fold ``drift_check`` runs, and the quantile through
``stats.exact_quantile_sql``. No Python worker runs in the suite path.

Plan construction is driver work paid on every call: every DataFrame op
re-analyzes its whole plan, and every PySpark Column op is several py4j
round trips. So the plan is built from few ops over small plans: Pass A
and Pass B's counters form ONE frame, coalesced to one Spark partition and
persisted; Pass C's pivot is broadcast-joined onto it; the scores are
added in ONE select (lateral aliases, struct columns); and every verdict
comes from ONE ``verdicts.verdict_rows`` projection of the shared
builders' verdict structs (``drift_verdict``, ``profile_verdict``,
``quantile_verdict``, ``categorical_verdict`` and the counted checks'
``_checked``). There is no union of per-check frames, and the verdict
stage runs as one task. The generated expression families — bin
counters, merges, zero-fill, profile chains, categorical scores — are
written as SQL text (``F.expr`` / ``selectExpr``; each pass's counters
and samples are ONE ``named_struct`` agg expression per level): a few
round trips per expression instead of several per operator. The rule:
generated families as SQL text, with floats as ``repr`` + ``D`` (a DOUBLE
literal, never a DECIMAL); strings that come from outside input (category
values, the partition column's name, constraint ids) stay ``F.lit``
Columns and are never spliced into SQL text.

Contract citations as in the modular operators (reference
/root/reference/sat_val_framework/implement.py:100-118,140-190).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.operators.drift import (
    _hist_counters,
    baseline_edges,
    categorical_verdict,
    drift_fold,
    drift_verdict,
    ref_vector,
)
from sat_val_framework_spark.operators.span_grammar import RULES, _leaf_flags
from sat_val_framework_spark.operators.stats import (
    _norm_type,
    exact_quantile_sql,
    profile_verdict,
    quantile_verdict,
    schema_matches,
)
from sat_val_framework_spark.suite import Check
from sat_val_framework_spark.verdicts import (
    EMPTY_SAMPLES_SQL,
    FAIL,
    PASS,
    _d,
    bounded_samples,
    verdict_rows,
)

# fused profile counters cover n_spans values 0..PROFILE_DOMAIN-1 (structural
# max in the fixture is 17); Pass A lists the rarer larger values exactly
PROFILE_DOMAIN = 32

_DRIFT_COLUMNS = ("n_spans", "text_len")


def _kind_mix(baseline_cat: pd.DataFrame) -> list[tuple[str, float]] | None:
    """(value, ref_frac) of the span-kind baseline, or None when the passes
    cannot score it exactly: no 'kind' rows, or a ref_frac=0 row (it
    would put 0*log(0/m) = NaN into the js sum, where the modular path's
    when(q>0) guard ships no term at all)."""
    cats = [
        (str(r.value), float(r.ref_frac))
        for r in baseline_cat[baseline_cat.col_name == "kind"].itertuples()
    ]
    if not cats or any(not q > 0 for _, q in cats):
        return None
    return cats


def fusible(
    check: Check,
    docs: DataFrame,
    catalog: DataFrame | None,
    baseline: pd.DataFrame | None,
    baseline_cat: pd.DataFrame | None,
    violations_path: str | None,
    part_col: str = "part_id",
) -> bool:
    """True when the shared passes compute ``check``'s exact answer on these
    inputs (baselines as pandas, or None; params already passed
    ``CheckSuite.validate``). Total: any failure while reading an input
    means the check does not fuse, so it runs on its own and gets its own
    verdicts or ERROR rows. The passes read ``doc_id`` and the ``spans``
    leaves of DOCUMENTS_SCHEMA and broadcast the catalog. They count and
    sample violators but never write them, so with ``violations_path`` set
    the unique, fd and ref checks run on their own."""
    k, col, p = check.kind, check.column, check.params
    try:
        if not all(  # a missing field raises
            _norm_type(docs.schema[f].dataType) == _norm_type(DOCUMENTS_SCHEMA[f].dataType)
            for f in ("doc_id", "spans")
        ):
            return False
        if k == "schema_assert":
            return list(p.get("not_null", ())) == ["spans"]
        if k == "stats":
            return col == "n_spans" and float(p.get("max_null_rate", 1.0)) == 0
        if k == "unique":
            return col == "doc_id" and not p.get("store_path") and not violations_path
        if k == "fd":
            return col == f"doc_id->{part_col}" and not violations_path
        if k == "ref":
            return (
                col == "spans.media_ref"
                and p.get("strategy", "broadcast") == "broadcast"
                and catalog is not None
                and "media_ref" in catalog.columns
                and not violations_path
            )
        if k in ("drift_ks", "drift_psi"):
            if col not in _DRIFT_COLUMNS or baseline is None:
                return False
            # the bin grid and reference vector must read (a zero-width bin,
            # a missing column or a bad dtype raises)
            ref_vector(baseline, col, baseline_edges(baseline, col)[2])
            return True
        if k == "profile":
            return col == "n_spans"
        if k == "quantile":
            return col == "n_spans" and not p.get("approx", True)
        if k == "drift_categorical":
            return col == "kind" and baseline_cat is not None and bool(_kind_mix(baseline_cat))
        if k == "span_grammar":
            return (
                col == "spans"
                and not p.get("require_text", False)
                and not p.get("require_spans", False)
                and p.get("id_col", "doc_id") == "doc_id"
            )
    except Exception:  # noqa: BLE001 — the check's own run reports it
        return False
    return False


def run_suite_fused(
    spark: SparkSession, docs: DataFrame, catalog: DataFrame, baseline, baseline_cat=None
) -> DataFrame:
    """DEFAULT_SUITE's verdicts through ``runner.run_suite``, which fuses
    them through this module's passes. Kept only because
    ``perfbench/workloads.py`` imports it; new code calls ``run_suite``."""
    from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite

    return run_suite(
        spark, docs, DEFAULT_SUITE, catalog=catalog, baseline=baseline, baseline_cat=baseline_cat
    ).verdicts


def _two_level_agg(
    frame: DataFrame,
    counters: dict,
    samples: dict,
    lit_counters: dict,
    value_key: str | None = None,
) -> DataFrame:
    """Per-part counters + bounded samples, still one scan: level 1 groups
    by (partition, input split) so each collect_list is bounded by split
    size (maxPartitionBytes), then level 2 sums the counters and merges
    ≤10 samples per split — a wholly-violating partition cannot OOM the
    final agg buffer (the verdicts.sample_col / merged_samples pattern).

    ``counters``: name -> SQL agg text; ``samples``: name -> (SQL value,
    SQL condition); ``lit_counters``: name -> agg Column, for expressions
    over outside-input literals. Each level's SQL family is ONE
    ``named_struct`` agg expression, unpacked once at the end.
    ``value_key``: SQL value, NULL for most rows, that level 1 also groups
    by; level 2 lists its non-NULL values with their ``rows`` counter as
    ``vc`` (array<struct<v, c>>, one entry per value and input split)."""
    fields = [f"'{n}', {e}" for n, e in counters.items()] + [
        f"'{n}', slice(sort_array(collect_list(CASE WHEN {c} THEN {v} END)), 1, 10)"
        for n, (v, c) in samples.items()
    ]
    keys = [F.expr("spark_partition_id() AS __split")]
    if value_key:
        keys.append(F.expr(f"{value_key} AS __v"))
    l1 = frame.groupBy("part_id", *keys).agg(
        *([F.expr(f"named_struct({', '.join(fields)}) AS l1")] if fields else []),
        *[e.alias(n) for n, e in lit_counters.items()],
    )
    merged = ", ".join(
        [f"'{n}', sum(l1.{n})" for n in counters]
        + [f"'{n}', sum({n})" for n in lit_counters]
        + [f"'{n}', slice(sort_array(flatten(collect_list(l1.{n}))), 1, 10)" for n in samples]
        + (
            [
                "'vc', collect_list(CASE WHEN __v IS NOT NULL"
                " THEN named_struct('v', __v, 'c', l1.rows) END)"
            ]
            if value_key
            else []
        )
    )
    wide = l1.groupBy("part_id").agg(F.expr(f"named_struct({merged}) AS w"))
    return wide.selectExpr("part_id", "w.*")


def _checked(cid: str, viol: str, samples: str) -> Column:
    # one counted verdict row (a struct for ``verdict_rows``) over the
    # per-partition frame: ``viol`` and ``samples`` are SQL text over its
    # columns; ``cid`` stays an F.lit (the fd id carries the partition
    # column's name, outside input)
    return F.struct(
        F.lit(cid).alias("constraint_id"),
        F.col("part_id"),
        F.expr(f"CASE WHEN {viol} > 0 THEN '{FAIL}' ELSE '{PASS}' END AS status"),
        F.expr("CAST(NULL AS STRING) AS error_kind"),
        F.expr("rows AS rows_scanned"),
        F.expr(f"CAST({viol} AS BIGINT) AS violation_count"),
        F.expr(f"{samples} AS sample_violations"),
    )


def fused_verdicts(
    docs: DataFrame,
    docs_all: DataFrame,
    checks: list[Check],
    catalog: DataFrame | None,
    baseline: pd.DataFrame | None,
    baseline_cat: pd.DataFrame | None,
    part_col: str = "part_id",
) -> tuple[DataFrame, list[DataFrame]]:
    """Verdict rows of the ``fusible`` checks from the shared passes ->
    (verdicts, the pass frame this call persisted). Every threshold comes
    from the check's own params. ``docs`` may be partition-filtered for
    resume; ``docs_all`` is the full table (Pass C must see every row).

    Scope note (VERDICT r4 #2): the fused quantile and profile cover
    ``n_spans`` ONLY — their exactness comes from the unit-bin histogram
    counters being exact VALUE counts, and the per-span ``text_len``
    domain has no such counters (the drift histogram's coarse baseline
    bins cannot reconstruct a quantile). ``quantile:text_len`` /
    ``profile:text_len`` run on their own through the runner's per-span
    series path (runner._numeric_frame).

    Caching: Pass A's counters, with Pass B's left-joined on, form ONE
    per-partition frame (n_parts rows), coalesced to one Spark partition
    and ``persist()``-ed; it stays in the session cache after the call. A
    repeat call over the same input plans the same frame and reuses it —
    which is also why Spark logs "Asked to cache already cached data" on
    every repeat. The caller owns its release. Every verdict then comes
    from ONE ``verdict_rows`` projection over that frame with Pass C's
    pivoted counts broadcast-joined on, so the verdict stage is one task
    and the plan holds no union.
    """
    # checks are picked by kind, the key ``fusible`` matched them on (the
    # drift kinds by kind and column below)
    by = {c.kind: c for c in checks}
    drift_thr: dict[str, dict[str, float]] = {}  # column -> {"ks"/"psi": threshold}
    for c in checks:
        if c.kind in ("drift_ks", "drift_psi"):
            stat = c.kind.removeprefix("drift_")
            drift_thr.setdefault(c.column, {})[stat] = float(c.params["threshold"])
    edges = {col: baseline_edges(baseline, col) for col in drift_thr}
    schema_c, stats_c, sg_c = by.get("schema_assert"), by.get("stats"), by.get("span_grammar")
    prof_c, quant_c, ref_c, cat_c = (
        by.get("profile"), by.get("quantile"), by.get("ref"), by.get("drift_categorical")
    )
    # (violation test, constraint id) per fused global check (Pass C)
    pass_c = [
        (t, by[k].constraint_id)
        for t, k in (("dup_count > 1", "unique"), ("p_min != p_max", "fd"))
        if k in by
    ]
    rows: list[Column] = []  # verdict structs, ONE projection at the end
    derived: list[str] = []  # per-part score columns: SQL select items, lateral aliases

    # ---- Pass A: one doc-level hash-agg --------------------------------
    # span-grammar flags ride the SAME doc-level select (the pre-projection
    # keeps nested pruning alive past the nondeterministic split grouping —
    # CLAUDE.md): kind vocabulary + media refs + offset order, text rule OFF
    # by design so Pass A stays text-free (Pass B reads the text bytes).
    # Identical expressions to the modular operator => byte-identical
    # verdicts (test_fused).
    sg_cols = []
    if sg_c:
        sg_flags = _leaf_flags(
            F.expr("spans.kind"),
            None,
            F.expr("spans.media_ref") if sg_c.params.get("require_media_ref", True) else None,
            F.expr("spans.offset") if sg_c.params.get("check_order", True) else None,
            list(sg_c.params["allowed_kinds"]),
            require_spans=False,
        )
        # one column per rule: the violation test and the sample annotation
        # below read the flags instead of re-evaluating them
        sg_cols = [sg_flags[r].alias(f"sg_{r}") for r in RULES]
    d = docs.select(
        F.col(part_col).alias("part_id"),
        F.expr("doc_id"),
        # span count from the cheapest leaf (kind) -> nested pruning skips
        # the text bytes entirely on this pass (measured 2.8x faster scan)
        F.expr(
            "CASE WHEN spans.kind IS NULL THEN CAST(NULL AS INT) ELSE size(spans.kind) END"
            " AS n_spans"
        ),
        *sg_cols,
    )
    counters_a = {"rows": "count(1)"}
    samples_a = {}
    if schema_c or stats_c:
        counters_a["null_spans"] = "sum(CAST(n_spans IS NULL AS BIGINT))"
    if schema_c:
        samples_a["null_samples"] = ("doc_id", "n_spans IS NULL")
        # the structural schema comparison is driver-side, as in schema_assert
        schema_viol = 0 if schema_matches(docs.schema, DOCUMENTS_SCHEMA) else 1
        rows.append(
            _checked(schema_c.constraint_id, f"(null_spans + {schema_viol})", "null_samples")
        )
    if stats_c:
        bounds = [
            f"n_spans {op} {_d(stats_c.params[b])}"
            for op, b in (("<", "lo"), (">", "hi"))
            if stats_c.params.get(b) is not None
        ]
        ns_oob = f"({' OR '.join(bounds) or 'false'})"
        # a NULL n_spans is never out of bounds (NULL-spans docs are counted
        # by null_spans); a bare sum over an all-NULL split is NULL
        counters_a["ns_oob"] = f"sum(CAST(coalesce({ns_oob}, false) AS BIGINT))"
        samples_a["ns_samples"] = ("doc_id", f"({ns_oob} OR n_spans IS NULL)")
        # max_null_rate=0: every NULL is a violation
        rows.append(_checked(stats_c.constraint_id, "(ns_oob + null_spans)", "ns_samples"))
    if sg_c:
        sg_bad = "(" + " OR ".join(f"sg_{r}" for r in RULES) + ")"
        counters_a["sg_viol"] = f"sum(CAST({sg_bad} AS BIGINT))"
        samples_a["sg_samples"] = (
            "format_string('%s:%s', CAST(doc_id AS STRING), concat_ws('+', "
            + ", ".join(f"CASE WHEN sg_{r} THEN '{r}' END" for r in RULES)
            + "))",
            sg_bad,
        )
        rows.append(_checked(sg_c.constraint_id, "sg_viol", "sg_samples"))
    if "n_spans" in edges:
        counters_a.update(
            {f"h_ns_{b}": c for b, c in enumerate(_hist_counters("n_spans", edges["n_spans"]))}
        )
    oob_key = None
    if prof_c or quant_c:
        # profile value counters: when the baseline histogram has UNIT bins
        # from 0 (true for n_spans), the h_ns_* counters ARE exact value
        # counts and the profile reuses them for free (measured: 33
        # separate counters cost ~7% suite throughput at 12M, the reuse
        # ~0). A value past the counters (n_spans is never negative) is its
        # own level-1 group key, so Pass A also yields the exact (value,
        # count) pairs of the rare out-of-domain values, with no extra job.
        lo_ns, w_ns, nb_ns = edges.get("n_spans", (None, None, None))
        unit_bins = lo_ns == 0.0 and w_ns == 1.0
        pv_prefix, pv_domain = ("h_ns_", nb_ns) if unit_bins else ("pv_", PROFILE_DOMAIN)
        if not unit_bins:
            counters_a.update(
                {
                    f"pv_{v}": f"sum(CASE WHEN n_spans = {v} THEN 1 ELSE 0 END)"
                    for v in range(PROFILE_DOMAIN)
                }
            )
        oob_key = f"CASE WHEN n_spans >= {pv_domain} THEN n_spans END"
        # value counts: pv (0..pv_domain-1) and the out-of-domain pairs in
        # vc; the last unit bin also holds the values it clamps
        derived.append("aggregate(vc, 0L, (s, x) -> s + x.c) AS oob_n")
        pv = [f"{pv_prefix}{v}" for v in range(pv_domain)]
        if unit_bins:
            pv[-1] = f"({pv[-1]} - oob_n)"
    wide = _two_level_agg(d, counters_a, samples_a, {}, oob_key)

    if prof_c:
        # profile constraint from the SAME pass: per-part scalars derived
        # from the value counters, then the shared verdict builder
        # (identical thresholds/samples/ERROR semantics as profile_check).
        # vc holds one pair per value and input split: one fold over it
        # sorted merges each value's pairs, then adds its count to the
        # top / distinct / c*ln(c) scalars.
        done = (
            "'top', greatest(a.top, a.c), 'nd', a.nd + CAST(a.c > 0 AS INT), "
            "'cl', a.cl + IF(a.c > 0, a.c * ln(a.c), 0.0D)"
        )
        oob = (
            "aggregate(array_sort(vc), "
            "named_struct('v', -1, 'c', 0L, 'top', 0L, 'nd', 0, 'cl', 0.0D), (a, x) -> "
            "IF(x.v = a.v, named_struct('v', a.v, 'c', a.c + x.c, 'top', a.top, 'nd', a.nd, "
            f"'cl', a.cl), named_struct('v', x.v, 'c', x.c, {done})), a -> named_struct({done}))"
        )
        n_distinct = " + ".join(f"CAST({c} > 0 AS INT)" for c in pv)
        clogc = " + ".join(
            f"CASE WHEN {c} > 0 THEN CAST({c} AS DOUBLE) * ln({c}) ELSE 0.0D END" for c in pv
        )
        derived += [
            f"{oob} AS prof_o",
            f"named_struct('rows_scanned', rows, 'n_obs', {' + '.join(pv)} + oob_n, "
            f"'top_n', greatest({', '.join(pv)}, prof_o.top), "
            f"'n_distinct', {n_distinct} + prof_o.nd, 'clogc', {clogc} + prof_o.cl) AS prof",
        ]
        rows.append(
            profile_verdict(
                "prof",
                prof_c.constraint_id,
                max_top_share=prof_c.params.get("max_top_share"),
                min_entropy=prof_c.params.get("min_entropy"),
                min_distinct_ratio=prof_c.params.get("min_distinct_ratio"),
            )
        )
    if quant_c:
        # quantile constraint from the SAME value counts: the q-quantile of
        # an integer column is fully determined by its value counts, so one
        # fold over them, sorted by value, picks it exactly (the modular
        # F.percentile twin is bit-identical; the shared verdict builder
        # formats the same %s strings)
        qf = float(quant_c.params.get("q", 0.5))
        in_domain = ", ".join(f"named_struct('v', {v}, 'c', {c})" for v, c in enumerate(pv))
        derived += [
            f"array_sort(concat(array({in_domain}), vc)) AS quant_vc",
            "aggregate(quant_vc, 0L, (t, x) -> t + x.c) AS quant_n",
            "named_struct('rows_scanned', rows, 'n_obs', quant_n, "
            f"'qv', {exact_quantile_sql('quant_vc', 'quant_n', qf)}) AS quant",
        ]
        rows.append(
            quantile_verdict(
                "quant", quant_c.constraint_id, qf, quant_c.params.get("lo"), quant_c.params.get("hi")
            )
        )

    # ---- Pass B: one span-level pass (explode shared by tl-drift + ref) -
    if ref_c or cat_c or "text_len" in edges:
        ex = docs.select(
            F.col(part_col).alias("part_id"), F.expr("explode(spans) AS s")
        ).selectExpr(
            "part_id",
            "s.kind AS kind",
            *(
                ["CASE WHEN s.kind = 'text' THEN length(s.text) END AS tl"]
                if "text_len" in edges
                else []
            ),
            *(["s.media_ref AS media_ref"] if ref_c else []),
        )
        counters_b, samples_b, ck_counters = {}, {}, {}
        if ref_c:
            cat = F.broadcast(catalog.selectExpr("media_ref", "1 AS present"))
            ex = ex.join(cat, "media_ref", "left")
            orphan = "(kind != 'text' AND present IS NULL)"
            counters_b["orphans"] = f"sum(CAST({orphan} AS BIGINT))"
            samples_b["orphan_samples"] = ("media_ref", orphan)
            rows.append(_checked(ref_c.constraint_id, "orphans", "orphan_samples"))
        if "text_len" in edges:
            counters_b.update(
                {f"h_tl_{b}": c for b, c in enumerate(_hist_counters("tl", edges["text_len"]))}
            )
        if cat_c:
            # categorical kind counters ride the SAME span pass: one counter
            # per baseline category + one for everything else. Folding all
            # unseen categories into ONE bucket is EXACT for both tv and js:
            # with q=0, Σ|p_c - 0| = Σp_c = p_other and Σ ½·p_c·ln2 =
            # ½·p_other·ln2. Category values are outside input: F.lit
            # Columns, never SQL text.
            cats = _kind_mix(baseline_cat)
            ck = F.expr("coalesce(kind, '<NULL>')")
            ck_counters = {
                **{
                    f"ck_{i}": F.sum((ck == F.lit(v)).cast("long"))
                    for i, (v, _) in enumerate(cats)
                },
                "ck_other": F.sum((~ck.isin([v for v, _ in cats])).cast("long")),
            }
            # categorical drift scores from the counters (n_parts rows):
            # tv/js expressions + the SAME verdict builder as the modular path
            ck_names = [f"ck_{i}" for i in range(len(cats))] + ["ck_other"]
            tv_terms, js_terms = [], []
            for i, (_, qfrac) in enumerate(cats):
                p, qd = f"(ck_{i} / cat_nd)", _d(qfrac)
                m = f"(({p} + {qd}) / 2)"
                tv_terms.append(f"abs({p} - {qd})")
                js_terms.append(
                    f"((CASE WHEN {p} > 0 THEN {p} * ln({p} / {m}) ELSE 0.0D END"
                    f" + {qd} * ln({qd} / {m})) / 2)"
                )
            tv_terms.append("(ck_other / cat_nd)")
            js_terms.append(
                "CASE WHEN ck_other / cat_nd > 0 THEN "
                f"ck_other / cat_nd * {_d(np.log(2.0))} / 2 ELSE 0.0D END"
            )
            derived += [
                f"{' + '.join(ck_names)} AS cat_n",
                "CAST(cat_n AS DOUBLE) AS cat_nd",
                "named_struct('n_obs', CAST(cat_n AS BIGINT), "
                f"'tv', CASE WHEN cat_n > 0 THEN ({' + '.join(tv_terms)}) / 2 END, "
                f"'js', CASE WHEN cat_n > 0 THEN {' + '.join(js_terms)} END) AS cat",
            ]
            js = cat_c.params.get("js_threshold")
            rows.append(
                categorical_verdict(
                    "cat",
                    cat_c.constraint_id,
                    float(cat_c.params["tv_threshold"]),
                    float(js) if js is not None else None,
                )
            )
        # same two-level bound as Pass A (an all-orphan partition is
        # realistic: one missing catalog shard orphans every span that
        # referenced it)
        wide_b = _two_level_agg(ex, counters_b, samples_b, ck_counters)
        # LEFT-join onto Pass A's partitions with zero-fill: a partition
        # whose docs all have NULL/empty spans produces NO rows after
        # explode, and without this its ref/text_len verdicts would never be
        # emitted — leaving the (constraint, partition) pair pending on every
        # resume (ADVICE r1; mirrors referential_check's per_part left join).
        # Pass A's row count is then the rows_scanned of every verdict.
        wide = wide.join(F.broadcast(wide_b), "part_id", "left").selectExpr(
            "part_id",
            *counters_a,
            *samples_a,
            *(["vc"] if oob_key else []),
            *[f"coalesce({n}, 0) AS {n}" for n in [*counters_b, *ck_counters]],
            *[f"coalesce({n}, {EMPTY_SAMPLES_SQL}) AS {n}" for n in samples_b],
        )
    # n_parts rows in ONE Spark partition, persisted: the verdict projection
    # reads it as one task (eight-way partitioned frames made the verdict
    # stage 64 tasks whose deserialization outweighed their work), and a
    # repeat call over the same input reuses it instead of re-running
    # Passes A and B.
    wide = wide.coalesce(1).persist()

    # drift scores straight off the pass frame's bin counters: the same
    # fold and verdict expressions as drift_check
    for col, prefix in (("n_spans", "h_ns_"), ("text_len", "h_tl_")):
        if col in edges:
            _lo, width, n_bins = edges[col]
            counts = f"array({', '.join(f'{prefix}{b}' for b in range(n_bins))})"
            derived += drift_fold(counts, f"d_{col}", ref_vector(baseline, col, n_bins), width)
            rows += [
                drift_verdict(f"d_{col}", f"drift_{s}:{col}", s, t)
                for s, t in drift_thr[col].items()
            ]

    frame = wide
    # ---- Pass C: uniqueness + fd:doc_id->part_id (own shuffle key) ------
    # ONE single-shuffle aggregate serves BOTH global constraints: the FD
    # "doc_id determines part_id" is violated iff min(part) != max(part) —
    # two cheap extra agg columns on the existing dup agg. Rejected shapes
    # (measured at 12M, local[32]): a two-level (doc_id, part)->doc_id agg
    # shuffles ~n_docs rows TWICE (doc_id is nearly unique, partial agg
    # reduces nothing; suite 628k -> 493k docs/sec); count_distinct(part)
    # in one groupBy plans an Expand that doubles every map-side row.
    # Scans docs_all even on resume: duplicates/FDs cross partition bounds.
    if pass_c:
        fd_aggs = (
            [F.min(part_col).alias("p_min"), F.max(part_col).alias("p_max")]
            if pass_c[-1][0] == "p_min != p_max"
            else []
        )
        per_doc = docs_all.groupBy("doc_id").agg(F.expr("count(1) AS dup_count"), *fd_aggs)
        bad = per_doc.filter(" OR ".join(t for t, _ in pass_c))
        # explicit broadcast: Catalyst plans SMJ here (agg output size unknown
        # at plan time) and AQE can't convert it — the probe side's shuffle
        # is already scheduled when the agg finishes. Measured 6.3s -> 3.8s
        # at 12M. ONE downstream pipeline for BOTH constraints: each
        # violator row is tagged (explode) with the index of every
        # constraint it breaks and sampled by (index, part_id) in one window
        # pass. A filter-split into two verdict branches was measured and
        # rejected: two consumers re-run the 12M-row probe scan (persist
        # does not help — the union job races both branches before the
        # cache lands; −7.6%), and rescuing THAT with persist + eager count
        # serializes an extra job that hurts fixed-cost-dominated sizes.
        tags = ", ".join(f"IF({t}, {i}, NULL)" for i, (t, _) in enumerate(pass_c))
        tagged = docs_all.join(F.broadcast(bad), "doc_id", "inner").select(
            F.col(part_col).alias("part_id"),
            F.expr("doc_id AS violation_key"),
            F.expr(f"explode(filter(array({tags}), i -> i IS NOT NULL)) AS ci"),
        )
        # bounded sampler (window top-10 + exact count), not
        # collect-then-slice: a viral duplicate otherwise collects every
        # copy into one reducer array. Pivoted by constraint index to one
        # row per partition (<= n_parts rows; each max sees at most one
        # row), broadcast onto the pass frame.
        pivot = bounded_samples(tagged, ["ci", "part_id"], "violation_key").groupBy(
            "part_id"
        ).agg(
            *[
                F.expr(f"max(CASE WHEN ci = {i} THEN {c} END) AS c{i}_{c}")
                for i in range(len(pass_c))
                for c in ("violation_count", "sample_violations")
            ]
        )
        frame = frame.join(F.broadcast(pivot), "part_id", "left")
        rows += [
            _checked(
                cid,
                f"coalesce(c{i}_violation_count, 0)",
                f"coalesce(c{i}_sample_violations, {EMPTY_SAMPLES_SQL})",
            )
            for i, (_, cid) in enumerate(pass_c)
        ]

    if derived:
        frame = frame.selectExpr("*", *derived)
    return verdict_rows(frame, *rows), [wide]
