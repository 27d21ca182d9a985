"""Suite runner: orchestrates checks, stamps lineage, checkpoints, resumes.

This is the engine equivalent of the reference's E2 hot path
(``CollocationEventList.load_with_joint_parameters`` → per-event load → QC →
verdicts; /root/reference/sat_val_framework/usable.py:43-48,
implement.py:177-190): one Spark job per check over all pending partitions,
or one shared-pass plan for the checks ``fused.py`` computes exactly, with
QC fused into the scan. Resume skips completed (constraint, partition)
pairs via left-anti join then pushes the pending set down as a partition
filter, so a resumed run re-scans only unfinished partitions.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sat_val_framework_spark import checkpoint as ckpt
from sat_val_framework_spark import fused, profile
from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.operators import (
    column_stats,
    drift_check,
    fd_check,
    referential_check,
    schema_assert,
    span_seq_check,
    uniqueness_check,
)
from sat_val_framework_spark.operators.drift import baseline_pd
from sat_val_framework_spark.operators.stats import StatSpec
from sat_val_framework_spark.operators.subset import subset_check
from sat_val_framework_spark.suite import Check, CheckSuite
from sat_val_framework_spark.verdicts import (
    error_kind_of,
    error_verdicts,
    finalize_verdicts,
    violation_verdicts,
)

DEFAULT_SUITE = CheckSuite(
    checks=[
        Check("schema_assert", params={"not_null": ["spans"]}),
        Check("stats", "n_spans", {"max_null_rate": 0.0, "lo": 1, "hi": 64}),
        Check("unique", "doc_id"),
        Check("ref", "spans.media_ref", {"dim_table_alias": "media_catalog", "strategy": "broadcast"}),
        Check("drift_ks", "n_spans", {"threshold": 0.15}),
        Check("drift_psi", "n_spans", {"threshold": 0.2}),
        Check("drift_ks", "text_len", {"threshold": 0.15}),
        Check("drift_psi", "text_len", {"threshold": 0.2}),
        # distribution profile as a CONSTRAINT: catches a column collapsing
        # to a constant (top-share) or degenerating (entropy floor)
        Check("profile", "n_spans", {"max_top_share": 0.9, "min_entropy": 0.5}),
        # functional dependency: a doc_id must live in exactly one partition
        # (the A3 invariant shape); the seeded dup doc_ids violate it
        Check("fd", "doc_id->part_id"),
        # robust-location bound: the n_spans median must stay in [5, 8] —
        # catches the column's CENTER walking away (the drifted partition's
        # +4 shift fails this where min/max bounds stay silent). approx=False
        # so the fused counter-derived quantile twin is bit-identical
        Check("quantile", "n_spans", {"q": 0.5, "lo": 5, "hi": 8, "approx": False}),
        # categorical drift of the span-kind mix vs the configured baseline
        # (tv = categorical KS-analogue; unordered columns have no bins)
        Check("drift_categorical", "kind", {"tv_threshold": 0.05}),
        # the north rule's own per-row invariant as a default constraint:
        # span-sequence grammar (kind vocabulary, media refs, offset order).
        # require_text=False keeps the fused Pass A text-free; require_spans
        # stays False because schema_assert already polices NULL arrays
        Check(
            "span_grammar",
            "spans",
            {"allowed_kinds": ["text", "image", "audio"], "require_text": False},
        ),
    ]
)

_SERIES = {"n_spans": profile.n_spans_series, "text_len": profile.text_len_series}

DRIFT_KINDS = ("drift_ks", "drift_psi", "drift_emd", "drift_kl")


@dataclass
class RunResult:
    run_id: str
    verdicts: DataFrame
    # (constraint_id, part_id) pairs the checkpoint already held, sorted
    skipped: list[tuple[str, int]] = field(default_factory=list)
    # frames the run persisted (the fused group's per-partition pass
    # frame): a caller done with the verdicts releases them with unpersist()
    persisted: list[DataFrame] = field(default_factory=list)


def _cat_series_for(docs: DataFrame, column: str, part_col: str) -> DataFrame:
    """(part_id, value) string series for a categorical drift column.

    'kind' (derived): one row per span with the span's kind, NULL kinds
    coalesced to the '<NULL>' sentinel BEFORE the explode (a NULL category
    is itself a category — a surge of NULLs IS drift). Docs whose spans
    array is NULL/empty contribute a NULL *value* row — the presence-only
    marker convention (categorical_drift_scores) that keeps their partition
    visible for the EmptySeriesError verdict. Top-level columns: one row
    per doc, value cast to string with the same sentinel."""
    if column == "kind":
        kinds = F.transform(
            F.col("spans"), lambda s: F.coalesce(s["kind"], F.lit("<NULL>"))
        )
        return docs.select(
            F.col(part_col).alias(part_col), F.explode_outer(kinds).alias("value")
        )
    if column in docs.schema.fieldNames():
        return docs.select(
            part_col,
            F.coalesce(F.col(column).cast("string"), F.lit("<NULL>")).alias("value"),
        )
    raise ValueError(f"no categorical series derivation for column '{column}'")


def _doc_text(docs: DataFrame, part_col: str) -> DataFrame:
    """(part_id, doc_id, text): per-document text = the doc's text spans
    joined by ' ' — the series the text-quality kinds (repetition,
    contamination) run on. NULL-spans docs keep a NULL text (token-less:
    the downstream tokenizer treats them as empty, never as violations)."""
    texts = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
        lambda s: s["text"],
    )
    return docs.select(
        part_col,
        "doc_id",
        F.when(F.col("spans").isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", texts))
        .alias("text"),
    )


def _rid_keyed(scoped: DataFrame, part_col: str) -> DataFrame:
    """(part, doc_id, text, __rid) with __rid = '<part>\\x1f<doc_id>': the
    physical-row key the text-similarity kinds (contamination,
    ngram_decontam) hand to dedup functions instead of the raw doc_id —
    duplicate doc_ids spanning partitions (exactly the defect the
    unique/fd checks model) must profile separately, not merge their texts
    under one key with nondeterministic partition attribution (advice r4).
    \\x1f never occurs in ids; a collision could only merge keys that were
    already equal."""
    return scoped.withColumn(
        "__rid",
        F.concat_ws(
            "\x1f", F.col(part_col).cast("string"), F.col("doc_id").cast("string")
        ),
    )


def _numeric_frame(docs: DataFrame, column: str, part_col: str) -> DataFrame:
    """Frame carrying (part_col, <column>, ...) for the quantile/profile
    kinds. ``text_len`` rides the SAME per-text-span exploded series the
    drift kinds use (_SERIES / profile.text_len_series), renamed to the
    check's column — a doc-length quantile bound (quantile:text_len) is
    the most natural constraint a corpus owner declares (VERDICT r4 #2);
    rows_scanned on those verdicts counts SPAN rows, n_obs text spans, and
    a partition with no text spans gets the drift family's
    EmptySeriesError. ``n_spans`` keeps the doc-level with_n_spans frame
    (one row per doc; byte-identical to the fused passes' exact-counter
    quantile — do not reroute it through a cast-to-double series)."""
    if column == "text_len":
        return profile.text_len_series(docs, part_col).withColumnRenamed("value", "text_len")
    return profile.with_n_spans(docs)


def _series_for(docs: DataFrame, column: str, part_col: str) -> DataFrame:
    """Series frame (part_id, value) for a drift column: a registered
    derived series (n_spans/text_len) or, as the general case, any
    top-level numeric column cast to double — drift checks are not limited
    to the two derived columns (the baseline must carry matching bin edges
    for the column either way; suite.validate already resolved it against
    the schema)."""
    if column in _SERIES:
        return _SERIES[column](docs, part_col)
    if column in docs.schema.fieldNames():
        return docs.select(part_col, F.col(column).cast("double").alias("value"))
    raise ValueError(f"no series derivation for drift column '{column}'")


def run_suite(
    spark: SparkSession,
    docs: DataFrame,
    suite: CheckSuite = DEFAULT_SUITE,
    catalog: DataFrame | None = None,
    baseline: DataFrame | None = None,
    baseline_cat: DataFrame | None = None,
    expected_docs: DataFrame | None = None,
    checkpoint_path: str | None = None,
    violations_path: str | None = None,
    run_id: str | None = None,
    snapshot_id: str = "",
    part_col: str = "part_id",
    raise_on_error: bool = False,
) -> RunResult:
    """Run every check in the suite, checkpointing per-check verdicts.

    The one suite executor. It sorts the checks into groups, each evaluated
    by one call: the checks the shared passes compute exactly
    (``fused.fusible``) form one group when two or more of them fuse —
    fusion pays through a shared scan, which one check alone cannot have;
    drift checks on one column share one histogram pass; every other check
    runs on its own. Resume, the checkpoint append, lineage and ERROR
    values are the same code for every group. ``baseline`` may be a pandas
    or a Spark frame (read once, ``drift.baseline_pd``).

    Resumable: pairs already in the checkpoint for ``run_id`` are skipped and
    the remaining partitions are pushed down as a filter (partition pruning).

    Errors are values (implement.py:23-56): a check that cannot evaluate —
    missing dim table, unreadable partition, bad predicate — emits one
    ``status=ERROR`` verdict row per pending partition with a typed
    ``error_kind``, instead of killing the run. ``raise_on_error=True``
    restores fail-fast for debugging.
    """
    suite.validate_or_raise(docs, part_col)
    run_id = run_id or uuid.uuid4().hex[:12]

    all_parts = docs.select(F.col(part_col).alias("part_id")).distinct()
    all_part_ids: set[int] | None = None
    done_pairs: set[tuple[str, int]] = set()
    skipped: list[tuple[str, int]] = []
    if checkpoint_path:
        # worklist and completed pairs are metadata-sized (constraints ×
        # partitions), so one driver-side collect replaces a per-check job
        all_part_ids = {r["part_id"] for r in all_parts.collect()}
        done_pairs = ckpt.done_pairs(spark, checkpoint_path, run_id)
        suite_ids = {c.constraint_id for c in suite.checks}
        skipped = sorted(
            (c, p) for (c, p) in done_pairs if c in suite_ids and p in all_part_ids
        )

    collected: list[DataFrame] = []
    persisted: list[DataFrame] = []

    def as_pandas(frame, kinds: tuple[str, ...]):
        """A metadata-sized baseline as pandas, read once for the planner
        and every drift check. One that cannot be read fuses nothing; its
        checks then fail inside their own try and become ERROR rows."""
        if frame is None or not any(c.kind in kinds for c in suite.checks):
            return None
        try:
            return baseline_pd(frame)
        except Exception:  # noqa: BLE001 — surfaced by the checks themselves
            return None

    bpd = as_pandas(baseline, DRIFT_KINDS)
    bcat_pd = as_pandas(baseline_cat, ("drift_categorical",))
    fuse = {
        c.constraint_id
        for c in suite.checks
        if fused.fusible(c, docs, catalog, bpd, bcat_pd, violations_path, part_col)
    }
    if len(fuse) < 2:
        fuse = set()
    groups: dict[tuple[str, str], list[Check]] = {}
    for c in suite.checks:
        if c.constraint_id in fuse:
            key = ("fused", "")
        elif c.kind in DRIFT_KINDS:
            key = ("drift", c.column)
        else:
            key = ("check", c.constraint_id)
        groups.setdefault(key, []).append(c)

    def pending_ids(cids: list[str]) -> list[int] | None:
        """Partition ids with ANY listed constraint not yet checkpointed;
        None = everything pending (no checkpoint). Driver-side only — safe
        to consult BEFORE paying for any scan."""
        if all_part_ids is None:
            return None
        done = set(all_part_ids)
        for cid in cids:
            done &= {p for (c, p) in done_pairs if c == cid}
        return sorted(all_part_ids - done)

    def emit(check_out: DataFrame, checks: list[Check], t0: float) -> None:
        """Stamp lineage — each row gets its own check's params_json, as
        F.lit Columns (outside strings are never SQL text) — and append to
        the checkpoint. A group or a global check (unique, fd) evaluates
        partitions that some of its checks already finished; those pairs
        are dropped, so a resume never re-emits a done pair."""
        params = {c.constraint_id: c.params_json for c in checks}
        done = sorted(f"{cid}:{p}" for (cid, p) in done_pairs if cid in params)
        if done:
            pair = F.concat_ws(":", "constraint_id", F.col("part_id").cast("string"))
            check_out = check_out.filter(~pair.isin(done))
        v = finalize_verdicts(
            check_out, run_id, params, snapshot_id, latency_ms=(time.time() - t0) * 1000.0
        )
        if checkpoint_path:
            ckpt.append_verdicts(v, checkpoint_path)
        collected.append(v)

    def sink_violations(viol: DataFrame, c: Check, key_col: str = "violation_key") -> None:
        """Append a check's full violator rows to the violations table, if
        the run has one."""
        if violations_path:
            ckpt.append_violations(viol, violations_path, run_id, c.constraint_id, key_col=key_col)

    def doc_violations(scoped: DataFrame, viol: DataFrame, c: Check) -> DataFrame:
        """Shared tail of every flag-the-docs kind (repetition,
        contamination, ngram_decontam): append the violator rows, return
        the standard per-partition verdicts — one place to change the
        violations/sampling contract (review finding r4)."""
        sink_violations(viol, c)
        return violation_verdicts(scoped, viol, c.constraint_id, part_col=part_col)

    def group_out(checks: list[Check], scoped: DataFrame) -> DataFrame:
        """Verdict rows of one group over the pending partitions in
        ``scoped`` (global checks read the full ``docs``)."""
        c = checks[0]
        if c.constraint_id in fuse:
            out, frames = fused.fused_verdicts(
                scoped, docs, checks, catalog, bpd, bcat_pd, part_col
            )
            persisted.extend(frames)
            return out
        if c.kind in DRIFT_KINDS:
            if baseline is None:
                raise ValueError("drift checks require baseline=")
            # the column's drift siblings share one histogram pass; only
            # requested statistics are computed (ADVICE r1)
            thresholds = {
                s.kind.removeprefix("drift_"): float(s.params["threshold"]) for s in checks
            }
            out, _scores = drift_check(
                _series_for(scoped, c.column, part_col),
                baseline if bpd is None else bpd,
                c.column,
                part_col=part_col,
                stats=tuple(thresholds),
                **{f"{s}_threshold": t for s, t in thresholds.items()},
            )
            return out
        return check_out(c, scoped)

    def check_out(c: Check, scoped: DataFrame) -> DataFrame:
        if c.kind == "schema_assert":
            return schema_assert(
                scoped, DOCUMENTS_SCHEMA, part_col, tuple(c.params.get("not_null", ()))
            )
        if c.kind == "stats":
            spec = StatSpec(
                c.column,
                max_null_rate=float(c.params.get("max_null_rate", 1.0)),
                lo=c.params.get("lo"),
                hi=c.params.get("hi"),
            )
            out, _metrics = column_stats(profile.with_n_spans(scoped), [spec], part_col)
            return out
        if c.kind == "unique":
            # uniqueness is global: a resumed run must still scan all rows to
            # find cross-partition duplicates (emit drops the done pairs)
            if c.params.get("store_path"):
                # incremental mode: this table is an ingest INCREMENT and
                # uniqueness means "no key already in the persisted corpus
                # index, no key twice in the batch" — the cross-snapshot
                # contract validate_increment defers to (snapshots.py).
                # The store increment lands at params.increment_path (if
                # set) for the orchestrator to append AFTER the batch
                # commits — never auto-appended here, or a failed commit
                # would poison the index.
                from sat_val_framework_spark.operators.uniqueness import (
                    incremental_unique_check,
                )

                store = spark.read.parquet(c.params["store_path"])
                out, viol, inc = incremental_unique_check(
                    docs,
                    store,
                    key=c.column,
                    part_col=part_col,
                    constraint_id=c.constraint_id,
                )
                if c.params.get("increment_path"):
                    inc.write.mode("overwrite").parquet(c.params["increment_path"])
                # in_store/dup_count ride into the violations table's
                # detail_json — the triage columns for WHY a key flagged
            else:
                out, viol = uniqueness_check(docs, c.column, part_col)
            sink_violations(viol, c)
            return out
        if c.kind == "fd":
            # same global-check shape as 'unique': violating determinant
            # groups span partitions, so a resumed run still scans all rows
            out, viol = fd_check(docs, c.column, part_col)
            sink_violations(viol, c)
            return out
        if c.kind == "ref":
            if catalog is None:
                raise ValueError("ref check requires catalog=")
            out, viol = referential_check(
                scoped,
                catalog,
                part_col,
                strategy=c.params.get("strategy", "broadcast"),
                constraint_id=c.constraint_id,
            )
            sink_violations(viol, c, key_col="media_ref")
            return out
        if c.kind == "drift_categorical":
            if baseline_cat is None:
                raise ValueError("drift_categorical checks require baseline_cat=")
            from sat_val_framework_spark.operators.drift import categorical_drift_check

            out, _scores = categorical_drift_check(
                _cat_series_for(scoped, c.column, part_col),
                baseline_cat,
                c.column,
                tv_threshold=float(c.params["tv_threshold"]),
                js_threshold=(
                    float(c.params["js_threshold"]) if "js_threshold" in c.params else None
                ),
                part_col=part_col,
            )
            return out
        if c.kind == "repetition":
            from sat_val_framework_spark.functions.text import repetition_profile

            text = _doc_text(scoped, part_col)
            rep = repetition_profile(text, carry_cols=[part_col])
            max_dwf = c.params.get("max_dup_word_frac")
            max_tbf = c.params.get("max_top_bigram_frac")
            cond = F.lit(False)
            if max_dwf is not None:
                cond = cond | (F.col("dup_word_frac") > max_dwf)
            if max_tbf is not None:
                cond = cond | (F.col("top_bigram_frac") > max_tbf)
            viol = rep.filter(cond).select(
                F.col(part_col).alias("part_id"), F.col("doc_id").alias("violation_key")
            )
            return doc_violations(text, viol, c)
        if c.kind == "contamination":
            from sat_val_framework_spark.functions.dedup import cross_contamination

            text = _doc_text(scoped, part_col)
            # a missing/unreadable reference corpus raises here and becomes
            # a retryable ERROR verdict (errors-as-values) via run_suite's
            # catch — resume retries after the path is fixed
            ref = spark.read.parquet(c.params["ref_path"])
            # key on (part, doc) — duplicate doc_ids spanning partitions
            # (the defect the unique check models) must NOT merge texts
            # into one LSH signature / nondeterministic attribution
            # (advice r4); \x1f cannot occur in the fixtures' ids and a
            # collision would only merge two already-identical keys
            keyed = _rid_keyed(text, part_col)
            max_bucket = c.params.get("max_bucket_size")
            pairs = cross_contamination(
                keyed.select(F.col("__rid").alias("doc_id"), "text"),
                ref,
                threshold=float(c.params.get("threshold", 0.8)),
                max_bucket_size=max_bucket,
            )
            hits = pairs.select(F.col("a_id").alias("__rid")).distinct()
            # contaminated docs are FEW relative to the corpus (else the
            # corpus IS the benchmark) — broadcast the hit set back for
            # partition attribution, same rationale as uniqueness_check
            viol = keyed.join(F.broadcast(hits), "__rid", "left_semi").select(
                F.col(part_col).alias("part_id"), F.col("doc_id").alias("violation_key")
            )
            if max_bucket is not None and violations_path:
                # no-silent-caps contract (dedup.py): when a cap can
                # degrade recall, the oversized-bucket audit is persisted
                # NEXT TO the capped output so the degradation is
                # queryable, never inferred (advice r4). Rebuilds the
                # union signatures with cross_contamination's exact
                # prefixing + token-less filter, so the audited buckets
                # are the ones the capped join actually saw; the extra
                # LSH pass is opt-in with the cap itself.
                from sat_val_framework_spark.functions.dedup import (
                    lsh_oversized_buckets,
                    minhash_signature,
                )
                from sat_val_framework_spark.functions.text import tokens_col

                def _pfx(df: DataFrame, tag: str) -> DataFrame:
                    return df.where(
                        F.size(tokens_col(F.col("text"))) > 0
                    ).select(
                        F.concat(F.lit(tag), F.col("doc_id").cast("string")).alias(
                            "doc_id"
                        ),
                        "text",
                    )

                both = _pfx(
                    keyed.select(F.col("__rid").alias("doc_id"), "text"), "a:"
                ).unionByName(_pfx(ref.select("doc_id", "text"), "b:"))
                audit = lsh_oversized_buckets(
                    minhash_signature(both), max_bucket_size=int(max_bucket)
                )
                ckpt.append_violations(
                    audit,
                    violations_path,
                    run_id,
                    c.constraint_id + "#oversized_buckets",
                    key_col="band_key",
                )
            return doc_violations(text, viol, c)
        if c.kind == "ngram_decontam":
            from sat_val_framework_spark.functions.dedup import ngram_hits

            text = _doc_text(scoped, part_col)
            # missing reference corpus -> retryable ERROR verdicts, same
            # errors-as-values contract as the contamination kind
            ref = spark.read.parquet(c.params["ref_path"])
            # physical-row key: duplicate doc_ids must not pool their
            # n-gram hit counts across partitions (advice r4)
            keyed = _rid_keyed(text, part_col)
            hits = ngram_hits(
                keyed.select(F.col("__rid").alias("doc_id"), "text"), ref,
                n=int(c.params.get("n", 13)),
            ).filter(F.col("n_hits") > int(c.params.get("max_hits", 0)))
            viol = keyed.join(
                F.broadcast(hits.select(F.col("doc_id").alias("__rid"))),
                "__rid",
                "left_semi",
            ).select(
                F.col(part_col).alias("part_id"), F.col("doc_id").alias("violation_key")
            )
            return doc_violations(text, viol, c)
        if c.kind == "span_grammar":
            from sat_val_framework_spark.operators.span_grammar import span_grammar_check

            return span_grammar_check(
                scoped,
                c.params["allowed_kinds"],
                part_col,
                id_col=c.params.get("id_col", "doc_id"),
                require_text=bool(c.params.get("require_text", False)),
                require_media_ref=bool(c.params.get("require_media_ref", True)),
                check_order=bool(c.params.get("check_order", True)),
                require_spans=bool(c.params.get("require_spans", False)),
                spans_col=c.column,
                constraint_id=c.constraint_id,
            )
        if c.kind == "quantile":
            from sat_val_framework_spark.operators.stats import quantile_check

            return quantile_check(
                _numeric_frame(scoped, c.column, part_col),
                c.column,
                part_col,
                q=float(c.params.get("q", 0.5)),
                lo=c.params.get("lo"),
                hi=c.params.get("hi"),
                approx=bool(c.params.get("approx", True)),
                accuracy=int(c.params.get("accuracy", 10_000)),
            )
        if c.kind == "outlier":
            from sat_val_framework_spark.operators.stats import outlier_check

            # rides the same derived-series plumbing as quantile/profile
            # (n_spans / text_len / any top-level numeric column)
            return outlier_check(
                _numeric_frame(scoped, c.column, part_col),
                c.column,
                part_col,
                k=float(c.params.get("k", 1.5)),
                max_outlier_rate=float(c.params["max_outlier_rate"]),
                approx=bool(c.params.get("approx", True)),
                accuracy=int(c.params.get("accuracy", 10_000)),
            )
        if c.kind == "distinct":
            from sat_val_framework_spark.operators.stats import distinct_bound_check

            # derived series ride the quantile/profile plumbing; any other
            # schema column (string ids included) is counted as-is — no
            # with_n_spans detour for columns the check doesn't derive
            frame = (
                _numeric_frame(scoped, c.column, part_col)
                if c.column in ("n_spans", "text_len")
                else scoped
            )
            return distinct_bound_check(
                frame,
                c.column,
                part_col,
                lo=c.params.get("lo"),
                hi=c.params.get("hi"),
                approx=bool(c.params.get("approx", True)),
                rsd=float(c.params.get("rsd", 0.01)),
            )
        if c.kind == "profile":
            from sat_val_framework_spark.operators.stats import profile_check

            return profile_check(
                _numeric_frame(scoped, c.column, part_col),
                c.column,
                part_col,
                max_top_share=c.params.get("max_top_share"),
                min_entropy=c.params.get("min_entropy"),
                min_distinct_ratio=c.params.get("min_distinct_ratio"),
            )
        if c.kind == "subset":
            _surv, out, viol = subset_check(
                scoped, c.params["predicate"], c.constraint_id, part_col
            )
            sink_violations(viol, c)
            return out
        if c.kind == "span_seq":
            if expected_docs is None:
                raise ValueError("span_seq check requires expected_docs=")
            out, _mm = span_seq_check(scoped, expected_docs, part_col)
            return out
        raise ValueError(f"unhandled check kind {c.kind}")  # pragma: no cover

    for checks in groups.values():
        t0 = time.time()
        try:
            ids = pending_ids([c.constraint_id for c in checks])
            if ids is not None and not ids:
                continue
            scoped = docs
            if ids is not None and len(ids) < len(all_part_ids):
                # left-anti-join resume, as a pushed-down isin filter so the
                # scan prunes partitions where every check of the group is
                # done
                scoped = docs.filter(F.col(part_col).isin(ids))
            emit(group_out(checks, scoped), checks, t0)
        except Exception as exc:  # noqa: BLE001 — A1 errors-as-values
            if raise_on_error:
                raise
            # the reference's core trick (implement.py:23-56): a check that
            # cannot evaluate returns a typed error VALUE. Engine form: one
            # status=ERROR verdict row per pending partition, tagged with
            # the error kind — the run continues, the failure is queryable,
            # and resume retries exactly these pairs after the fix.
            kind = error_kind_of(exc)
            for chk in checks:
                ids = pending_ids([chk.constraint_id])
                parts = all_parts if ids is None else all_parts.filter(F.col("part_id").isin(ids))
                ev = error_verdicts(parts, chk.constraint_id, kind, str(exc))
                try:
                    emit(ev, [chk], t0)
                except Exception:  # noqa: BLE001
                    # the sink itself is broken (e.g. the original failure WAS
                    # the checkpoint append): re-emitting through the same
                    # path would raise out of run_suite. Degrade to in-memory
                    # ERROR verdicts — still returned, just not checkpointed,
                    # so the pair stays pending and retries after the fix.
                    collected.append(
                        finalize_verdicts(
                            ev, run_id, {chk.constraint_id: chk.params_json}, snapshot_id
                        )
                    )

    if collected:
        verdicts = collected[0]
        for v in collected[1:]:
            verdicts = verdicts.unionByName(v)
    else:
        verdicts = spark.createDataFrame([], ckpt.VERDICT_SCHEMA)
    return RunResult(run_id=run_id, verdicts=verdicts, skipped=skipped, persisted=persisted)
