"""Span-grammar validation: internal structural invariants of the
interleaved span sequence (kind vocabulary, media refs, text presence,
strictly-increasing offsets — the north rule's "order" half of the
span-sequence invariant, checked without a reference table)."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark.operators.span_grammar import (
    RULES,
    span_grammar_check,
    span_grammar_flags,
    span_grammar_profile,
)

KINDS = ["text", "image", "audio"]

SCHEMA = (
    "doc_id string, part_id int, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _doc(doc_id, part, spans):
    return (doc_id, part, spans)


def s(kind, text=None, ref=None, off=0):
    return (kind, text, ref, off)


@pytest.fixture(scope="module")
def defect_docs(spark):
    """One doc per defect class, plus clean docs — all in one partition so
    the verdict row aggregates every rule."""
    rows = [
        _doc("d-clean", 0, [s("text", "hello", None, 0), s("image", None, "m-1", 1)]),
        _doc("d-badkind", 0, [s("video", None, "m-2", 0)]),
        _doc("d-emptytext", 0, [s("text", "", None, 0)]),
        _doc("d-nulltext", 0, [s("text", None, None, 0)]),
        _doc("d-badmedia", 0, [s("image", None, None, 0)]),
        _doc("d-equal-off", 0, [s("text", "a", None, 0), s("text", "b", None, 0)]),
        _doc("d-desc-off", 0, [s("text", "a", None, 1), s("text", "b", None, 0)]),
        _doc("d-null-off", 0, [s("text", "a", None, 0), s("text", "b", None, None)]),
        _doc("d-empty", 0, []),
        _doc("d-null", 0, None),
        # two rules at once: unknown kind AND offsets out of order
        _doc("d-multi", 0, [s("video", None, "m-3", 5), s("text", "c", None, 2)]),
        # clean doc in a second partition: its verdict must be PASS
        _doc("e-clean", 1, [s("audio", None, "m-4", 0), s("text", "d", None, 3)]),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _flag_docs(df, **kw):
    kw.setdefault("require_text", True)
    kw.setdefault("require_spans", True)
    flags = span_grammar_flags(KINDS, **kw)
    out = df.select("doc_id", *[flags[r].alias(r) for r in RULES]).collect()
    return {
        r["doc_id"]: {rule for rule in RULES if r[rule]} for r in out
    }


def test_each_rule_flags_exactly_its_defect(defect_docs):
    got = _flag_docs(defect_docs)
    assert got["d-clean"] == set()
    assert got["e-clean"] == set()
    assert got["d-badkind"] == {"bad_kind"}
    assert got["d-emptytext"] == {"bad_text"}
    assert got["d-nulltext"] == {"bad_text"}
    assert got["d-badmedia"] == {"bad_media"}
    assert got["d-equal-off"] == {"bad_order"}
    assert got["d-desc-off"] == {"bad_order"}
    # a NULL offset cannot be ordered -> violation
    assert got["d-null-off"] == {"bad_order"}
    assert got["d-empty"] == {"no_spans"}
    assert got["d-null"] == {"no_spans"}
    assert got["d-multi"] == {"bad_kind", "bad_order"}


def test_null_kind_is_bad_kind_not_bad_media(spark):
    """A NULL kind is 'not in the vocabulary'; it must NOT double-flag as a
    media violation (rule counts would become rule-order-dependent)."""
    df = spark.createDataFrame([_doc("d-nullkind", 0, [s(None, None, None, 0)])], SCHEMA)
    assert _flag_docs(df)["d-nullkind"] == {"bad_kind"}


def test_disabled_rules_never_flag(defect_docs):
    got = _flag_docs(
        defect_docs,
        require_text=False,
        require_media_ref=False,
        check_order=False,
        require_spans=False,
    )
    # only the vocabulary rule remains active
    for doc_id, flags in got.items():
        expected = (
            {"bad_kind"} if doc_id in ("d-badkind", "d-multi") else set()
        )
        assert flags == expected, doc_id


def test_check_verdicts_and_samples(defect_docs):
    out = span_grammar_check(
        defect_docs,
        KINDS,
        require_text=True,
        require_spans=True,
        constraint_id="span_grammar:spans",
    )
    rows = {r["part_id"]: r for r in out.collect()}
    assert rows[1]["status"] == "PASS" and rows[1]["violation_count"] == 0
    assert rows[1]["rows_scanned"] == 1
    p0 = rows[0]
    assert p0["status"] == "FAIL"
    assert p0["rows_scanned"] == 11
    # every part-0 doc except d-clean violates >=1 rule
    assert p0["violation_count"] == 10
    assert p0["constraint_id"] == "span_grammar:spans"
    # samples: doc_id:rule1+rule2, sorted, RULES order within a doc
    assert "d-multi:bad_kind+bad_order" in p0["sample_violations"]
    assert "d-null:no_spans" in p0["sample_violations"]
    assert "d-clean:" not in "".join(p0["sample_violations"])
    assert p0["sample_violations"] == sorted(p0["sample_violations"])


def test_check_deterministic_across_parallelism(defect_docs):
    a = span_grammar_check(defect_docs.repartition(1), KINDS, require_text=True, require_spans=True)
    b = span_grammar_check(defect_docs.repartition(7), KINDS, require_text=True, require_spans=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_profile_per_rule_counts(defect_docs):
    prof = {r["part_id"]: r for r in span_grammar_profile(defect_docs, KINDS).collect()}
    p0 = prof[0]
    assert p0["n_docs"] == 11
    assert p0["no_spans_docs"] == 2  # d-empty, d-null
    assert p0["bad_kind_docs"] == 2  # d-badkind, d-multi
    assert p0["bad_text_docs"] == 2  # d-emptytext, d-nulltext
    assert p0["bad_media_docs"] == 1  # d-badmedia
    assert p0["bad_order_docs"] == 4  # d-equal-off, d-desc-off, d-null-off, d-multi
    # d-multi breaks two rules but is ONE violated doc
    assert p0["violated_docs"] == 10
    p1 = prof[1]
    assert p1["n_docs"] == 1 and p1["violated_docs"] == 0


def test_fixture_docs_only_null_spans_violate(docs, oracle):
    """On the seeded fixture corpus the grammar holds everywhere except the
    injected NULL-spans docs: require_spans=True flags exactly those, and
    with require_spans=False every partition passes."""
    strict = span_grammar_check(docs, KINDS, require_text=True, require_spans=True)
    got = {r["part_id"]: r["violation_count"] for r in strict.collect()}
    want = {p: oracle["null_spans_per_part"].get(p, 0) for p in got}
    assert got == want
    lax = span_grammar_check(docs, KINDS, require_text=True, require_spans=False)
    assert {r["status"] for r in lax.collect()} == {"PASS"}


def test_nested_schema_pruning_skips_text(spark, docs, tmp_path):
    """With require_text=False the scan must not read the text leaf — the
    whole point of keeping every rule on extracted leaf arrays. At 10^12
    docs the text column is most of the table's bytes."""
    path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(path)
    fresh = spark.read.parquet(path)
    out = span_grammar_check(fresh, KINDS, require_text=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "text" not in scan[0].split("ReadSchema")[1]
    # and with require_text=True the leaf IS read
    out2 = span_grammar_check(fresh, KINDS, require_text=True)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    scan2 = [ln for ln in plan2.splitlines() if "ReadSchema" in ln]
    assert "text" in scan2[0].split("ReadSchema")[1]


# ---- declarable suite kind -------------------------------------------------


def test_span_grammar_suite_kind_runs_and_resumes(spark, defect_docs, tmp_path):
    """'span_grammar' as a declared check: standard verdict rows under the
    Check's constraint_id, JSON round-trip lossless, resume a noop."""
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    suite = CheckSuite(
        [
            Check(
                "span_grammar",
                "spans",
                {"allowed_kinds": KINDS, "require_text": True, "require_spans": True},
            )
        ]
    )
    assert suite.validate(defect_docs) == []
    suite2 = CheckSuite.from_json(suite.to_json())
    assert suite2.checks == suite.checks

    path = str(tmp_path / "ck")
    res = run_suite(spark, defect_docs, suite2, checkpoint_path=path, run_id="sg1")
    st = {r["part_id"]: r for r in res.verdicts.collect()}
    assert all(r["constraint_id"] == "span_grammar:spans" for r in st.values())
    assert st[0]["status"] == "FAIL" and st[0]["violation_count"] == 10
    assert st[1]["status"] == "PASS"
    assert "d-multi:bad_kind+bad_order" in st[0]["sample_violations"]

    res2 = run_suite(spark, defect_docs, suite2, checkpoint_path=path, run_id="sg1")
    assert res2.verdicts.count() == 0
    assert res2.skipped == [("span_grammar:spans", p) for p in sorted(st)]


def test_span_grammar_config_validation(docs):
    from sat_val_framework_spark.suite import Check, CheckSuite

    def errs(check):
        return [str(e) for e in CheckSuite([check]).validate(docs)]

    ok = {"allowed_kinds": KINDS}
    assert not errs(Check("span_grammar", "spans", ok))
    assert any("allowed_kinds" in e for e in errs(Check("span_grammar", "spans", {})))
    assert any(
        "allowed_kinds" in e
        for e in errs(Check("span_grammar", "spans", {"allowed_kinds": []}))
    )
    assert any(
        "allowed_kinds" in e
        for e in errs(Check("span_grammar", "spans", {"allowed_kinds": "text"}))
    )
    assert any(
        "require_text must be a bool" in e
        for e in errs(
            Check("span_grammar", "spans", {**ok, "require_text": "yes"})
        )
    )
    assert any("column required" in e for e in errs(Check("span_grammar", None, ok)))
    assert any(
        "dot-free" in e for e in errs(Check("span_grammar", "spans.kind", ok))
    )
    assert any(
        "array of structs" in e for e in errs(Check("span_grammar", "doc_id", ok))
    )


def test_span_grammar_validation_catches_missing_leaf(spark):
    """A spans struct lacking a leaf an ENABLED rule reads is a driver-side
    config error (mid-job it would be a retryable ERROR re-run forever);
    disabling that rule makes the same column valid."""
    from sat_val_framework_spark.suite import Check, CheckSuite

    df = spark.createDataFrame(
        [("d1", 0, [("text", 0)])],
        "doc_id string, part_id int, spans array<struct<kind:string,offset:int>>",
    )
    ok = {"allowed_kinds": KINDS}
    errs = CheckSuite([Check("span_grammar", "spans", ok)]).validate(df)
    assert any("media_ref" in str(e) for e in errs)
    assert not CheckSuite(
        [Check("span_grammar", "spans", {**ok, "require_media_ref": False})]
    ).validate(df)
