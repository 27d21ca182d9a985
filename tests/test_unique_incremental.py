"""Cross-snapshot uniqueness for ingest increments: a batch validates its
keys against a persisted distinct-key index instead of rescanning the
corpus. Equivalence oracle: when the stored corpus's keys are unique (the
already-validated invariant), the incremental violation rows equal the
full-run uniqueness violations restricted to batch rows."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark.operators.uniqueness import (
    incremental_unique_check,
    uniqueness_check,
)


def _df(spark, rows, cols="doc_id string, part_id int"):
    return spark.createDataFrame(rows, cols)


@pytest.fixture(scope="module")
def corpus(spark):
    old = _df(spark, [(f"k{i}", i % 4) for i in range(40)])
    batch = _df(
        spark,
        # k3, k17: collide with the store; b0 duplicated within the batch;
        # b1..b5 clean
        [("k3", 0), ("k17", 1), ("b0", 2), ("b0", 3)]
        + [(f"b{i}", i % 4) for i in range(1, 6)],
    )
    return old, batch


def test_incremental_matches_full_run_restriction(spark, corpus):
    old, batch = corpus
    store = old.select("doc_id").distinct()
    verdicts, viol, inc = incremental_unique_check(batch, store)

    full_viol = {
        (r["part_id"], r["violation_key"])
        for r in uniqueness_check(old.unionByName(batch))[1].collect()
    }
    batch_rows = {(r["part_id"], r["doc_id"]) for r in batch.collect()}
    want = full_viol & batch_rows
    got = {(r["part_id"], r["violation_key"]) for r in viol.collect()}
    assert got == want and got  # non-vacuous

    st = {r["part_id"]: r for r in verdicts.collect()}
    assert st[0]["status"] == "FAIL" and "k3" in st[0]["sample_violations"]
    assert st[2]["status"] == "FAIL" and st[3]["status"] == "FAIL"  # b0 dup
    # part 1 holds k17 (store hit) and b5 (clean)
    assert st[1]["violation_count"] == 1
    assert all(r["constraint_id"] == "unique_incr:doc_id" for r in st.values())

    # violation rows carry the reason split
    reasons = {r["violation_key"]: (r["in_store"], r["dup_count"]) for r in viol.collect()}
    assert reasons["k3"] == (True, 1)
    assert reasons["b0"] == (False, 2)

    # the store increment is exactly the batch's NEW distinct keys
    got_inc = {r["doc_id"] for r in inc.collect()}
    assert got_inc == {"b0", "b1", "b2", "b3", "b4", "b5"}


def test_two_batches_through_the_store_equal_one_full_run(spark, corpus):
    """Append the increment after commit, ingest a second batch: union of
    both batches' violations == full-run violations over everything (old
    keys unique), restricted to batch rows."""
    old, batch1 = corpus
    store = old.select("doc_id").distinct()
    _, viol1, inc1 = incremental_unique_check(batch1, store)
    batch2 = _df(spark, [("b1", 0), ("c0", 1), ("k9", 2)])  # b1 hits batch1's key
    store2 = store.unionByName(inc1)
    _, viol2, inc2 = incremental_unique_check(batch2, store2)
    got2 = {(r["violation_key"], r["in_store"]) for r in viol2.collect()}
    assert got2 == {("b1", True), ("k9", True)}
    assert {r["doc_id"] for r in inc2.collect()} == {"c0"}


def test_composite_key_and_clean_batch(spark):
    old = _df(spark, [("a", 0, "s1"), ("a", 1, "s2")],
              "doc_id string, part_id int, src string")
    store = old.select("doc_id", "src").distinct()
    batch = _df(spark, [("a", 2, "s3"), ("b", 2, "s1")],
                "doc_id string, part_id int, src string")
    verdicts, viol, inc = incremental_unique_check(batch, store, key="doc_id,src")
    assert viol.count() == 0  # (a,s3) and (b,s1) are new tuples
    st = verdicts.collect()
    assert {r["status"] for r in st} == {"PASS"}
    assert st[0]["constraint_id"] == "unique_incr:doc_id,src"
    assert inc.count() == 2
    # re-ingesting the same batch against the committed store flags ALL rows
    _, viol_re, inc_re = incremental_unique_check(
        batch, store.unionByName(inc), key="doc_id,src"
    )
    assert viol_re.count() == 2 and inc_re.count() == 0


def test_store_side_never_recomputed(spark, corpus):
    """Plan audit: the persisted index is consumed as a bare 1-column scan;
    the batch side is the build side of the semi join."""
    import tempfile

    old, batch = corpus
    path = tempfile.mkdtemp() + "/keys"
    old.select("doc_id").distinct().write.parquet(path)
    verdicts, viol, _ = incremental_unique_check(batch, spark.read.parquet(path))
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "/keys" in ln]
    assert scans and "doc_id" in scans[0] and "part_id" not in scans[0]
    # the store must never shuffle: every join in the default mode is a
    # broadcast (an SMJ here re-shuffles the corpus-sized index per batch)
    viol_plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in viol_plan
    assert "BroadcastHashJoin" in viol_plan


def test_unique_kind_incremental_mode_via_suite(spark, corpus, tmp_path):
    """Declared incremental uniqueness: Check('unique', key,
    {store_path}) validates the batch against the persisted index, writes
    the store increment to increment_path, rides checkpoint resume, and
    keeps the Check's constraint_id (resume-parity)."""
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.suite import Check, CheckSuite

    old, batch = corpus
    store_path = str(tmp_path / "keys")
    old.select("doc_id").distinct().write.parquet(store_path)
    inc_path = str(tmp_path / "inc")
    suite = CheckSuite(
        [Check("unique", "doc_id", {"store_path": store_path, "increment_path": inc_path})]
    )
    assert suite.validate(batch) == []
    ckpt_path = str(tmp_path / "ck")
    res = run_suite(spark, batch, suite, checkpoint_path=ckpt_path, run_id="iu1")
    st = {r["part_id"]: r for r in res.verdicts.collect()}
    assert all(r["constraint_id"] == "unique:doc_id" for r in st.values())
    assert st[0]["status"] == "FAIL" and st[1]["status"] == "FAIL"
    inc = spark.read.parquet(inc_path)
    assert {r["doc_id"] for r in inc.collect()} == {"b0", "b1", "b2", "b3", "b4", "b5"}

    res2 = run_suite(spark, batch, suite, checkpoint_path=ckpt_path, run_id="iu1")
    assert res2.verdicts.count() == 0
    assert res2.skipped == [("unique:doc_id", p) for p in sorted(st)]


def test_unique_kind_incremental_config_validation(spark, corpus):
    from sat_val_framework_spark.suite import Check, CheckSuite

    _, batch = corpus

    def errs(check):
        return [str(e) for e in CheckSuite([check]).validate(batch)]

    assert any("store_path" in e for e in errs(Check("unique", "doc_id", {"store_path": 7})))
    assert any("store_path" in e for e in errs(Check("unique", "doc_id", {"store_path": ""})))
    assert any(
        "requires" in e
        for e in errs(Check("unique", "doc_id", {"increment_path": "/tmp/x"}))
    )
    assert not errs(Check("unique", "doc_id", {"store_path": "/tmp/x"}))


def test_validate_increment_with_key_store_flags_cross_snapshot_dup(spark, tmp_path):
    """The complete nightly-lake flow: snapshot 1 lands and its keys are
    indexed; snapshot 2 appends a key snapshot 1 already holds; validating
    ONLY the increment with the store-backed unique check flags it —
    cross-snapshot uniqueness without rescanning snapshot 1."""
    from sat_val_framework_spark.sources.snapshots import (
        validate_increment,
        write_snapshot,
    )
    from sat_val_framework_spark.suite import Check, CheckSuite

    tbl = str(tmp_path / "lake")
    day1 = _df(spark, [(f"d1-{i}", i % 2) for i in range(10)])
    write_snapshot(day1, tbl)
    store_path = str(tmp_path / "keys")
    day1.select("doc_id").distinct().write.parquet(store_path)

    day2 = _df(spark, [("d1-3", 0), ("d2-0", 1)])  # d1-3 re-ingested
    s2 = write_snapshot(day2, tbl, mode="append")
    suite = CheckSuite([Check("unique", "doc_id", {"store_path": store_path})])
    res = validate_increment(spark, tbl, s2, suite=suite)
    st = {r["part_id"]: r for r in res.verdicts.collect()}
    assert st[0]["status"] == "FAIL" and st[0]["sample_violations"] == ["d1-3"]
    assert st[1]["status"] == "PASS"
    assert st[0]["rows_scanned"] == 1  # the increment, not the lake
