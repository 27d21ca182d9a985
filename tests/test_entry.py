"""Driver-contract checks (__spark_entry__). The full value-level oracle
comparison runs via tools/check_oracles.py; here we pin the contract: entry
returns rows with a stable schema, every oracle key has a query, and a
sample of queries matches its DuckDB twin at sf0.001 with the same
comparison the full gate makes."""

import os

import pytest

import __spark_entry__ as entrymod
from tools.check_oracles import TABLES, frame_fingerprint

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(not os.path.exists(SF), reason="driver testdata absent")


@needs_testdata
def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["constraint_id", "grp", "status", "violation_count"]


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25
    # every query has an oracle twin since round 2 (zero rows-only checks)
    assert set(oracles) == set(qs)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@needs_testdata
@pytest.mark.parametrize(
    "name",
    [
        "stats_per_source", "uniqueness", "verdict_union", "token_count", "ann_threshold",
        "minhash_lsh",
        # every md5 content-hash path: fingerprint, Count-Min, sampling,
        # SimHash and the LSH variants
        "fingerprint", "cms_freq", "hash_sample", "weighted_sample", "simhash_near_dup",
        "lsh_capped", "incremental_dedup",
    ],
)
def test_query_sample_runs_smoke(spark, duck, name):
    df = entrymod.queries()[name](spark, SF)
    rows = [tuple(r) for r in df.collect()]
    assert len(set(df.columns)) == len(df.columns)  # no duplicate column names
    rel = duck.sql(entrymod.oracle_sql()[name])
    drows = rel.fetchall()
    assert sorted(df.columns) == sorted(rel.columns)
    assert len(rows) == len(drows)
    assert frame_fingerprint(df.columns, rows)[0] == frame_fingerprint(rel.columns, drows)[0]


@needs_testdata
def test_time_queries_are_session_tz_independent(spark):
    """The driver builds its OWN SparkSession with an unknown session
    timezone; every time-touching query must give identical values under a
    non-UTC TZ (TIMESTAMP_NTZ discipline + wall-clock component arithmetic,
    never epoch casts — CLAUDE.md gotcha)."""
    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    old = spark.conf.get("spark.sql.session.timeZone")
    names = ("sessionize", "asof_join", "range_join", "time_rollup")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = {n: {tuple(r) for r in qs[n](spark, sf).collect()} for n in names}
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = {n: {tuple(r) for r in qs[n](spark, sf).collect()} for n in names}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    for n in names:
        assert utc[n] == ny[n], n


def test_round4_query_plans_have_no_quadratic_shapes(spark):
    """Plan audit for the round-4 driver queries: no cartesian products, no
    BroadcastNestedLoopJoin, no unpartitioned global Window anywhere — the
    shapes that die first at 100x data (the only sanctioned crossJoins in
    the repo are 1-row spine joins and the labeled brute-force ANN oracle,
    neither of which these queries use)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("lsh_capped", "lsh_oversized", "ngram_decontam", "categorical_check"):
        plan = qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan or name == "categorical_check", name
        # categorical_check's baseline spine is a broadcast of a tiny
        # aggregated dim — a BNLJ there would still be (n_parts x n_langs)
        # rows; anything else must be hash-join shaped
    # the capped pair join must be hash joins only (broadcast for the
    # oversized dim, shuffled-hash/sort-merge for the self-join)
    plan = qs["lsh_capped"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
