"""Source readers: declared-schema ingest, partition-predicate pushdown,
lineage; snapshot tables, bucketed tables and the catalog append."""

import os

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark.sources import read_documents


def _write_fixture(spark, tmp_path, n=300):
    path = str(tmp_path / "docs.parquet")
    fx.documents_df(spark, n).write.parquet(path)
    return path


def test_parquet_reader_schema_and_pruning(spark, tmp_path):
    path = _write_fixture(spark, tmp_path)
    df = read_documents(spark, path, part_ids=[1, 3])
    from sat_val_framework_spark.operators.stats import _norm_type

    assert _norm_type(df.schema) == _norm_type(fx.DOCUMENTS_SCHEMA)
    assert {r["part_id"] for r in df.select("part_id").distinct().collect()} == {1, 3}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "part_id" in plan


def test_schema_assert_passes_on_parquet_roundtrip(spark, tmp_path):
    """Parquet forces nullable=True on every field; that storage noise must
    not fail the structural schema assertion (regression)."""
    from sat_val_framework_spark.operators.stats import schema_assert

    path = _write_fixture(spark, tmp_path)
    df = read_documents(spark, path)
    out = schema_assert(df, fx.DOCUMENTS_SCHEMA, not_null=("spans",)).collect()
    # fails only where null-spans docs were injected, never everywhere
    assert any(r["status"] == "PASS" for r in out)


def test_lineage_column(spark, tmp_path):
    path = _write_fixture(spark, tmp_path)
    df = read_documents(spark, path, lineage=True)
    row = df.select("source_file").first()
    assert "docs.parquet" in row["source_file"]


def test_snapshot_table_time_travel(spark, tmp_path):
    """Append = new snapshot over old+new; an OLD snapshot id keeps reading
    exactly its rows after later appends (reproducible re-validation)."""
    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.sources.snapshots import (
        read_snapshot,
        snapshots,
        write_snapshot,
    )

    tbl = str(tmp_path / "snap_tbl")
    d1 = fx.documents_df(spark, 200, n_parts=4)
    s1 = write_snapshot(d1, tbl)
    d2 = fx.documents_df(spark, 100, n_parts=4).withColumn(
        "doc_id", F.concat(F.lit("extra-"), F.col("doc_id"))
    )
    s2 = write_snapshot(d2, tbl, mode="append")
    assert s1 != s2
    assert read_snapshot(spark, tbl, s1, fx.DOCUMENTS_SCHEMA).count() == 200
    assert read_snapshot(spark, tbl, s2, fx.DOCUMENTS_SCHEMA).count() == 300
    assert read_snapshot(spark, tbl, schema=fx.DOCUMENTS_SCHEMA).count() == 300  # latest
    meta = snapshots(tbl)
    assert [m["seq"] for m in meta] == [1, 2] and meta[1]["parent"] == s1


def test_snapshot_overwrite_keeps_history(spark, tmp_path):
    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.sources.snapshots import read_snapshot, write_snapshot

    tbl = str(tmp_path / "snap_tbl2")
    s1 = write_snapshot(fx.documents_df(spark, 200, n_parts=4), tbl)
    s2 = write_snapshot(fx.documents_df(spark, 50, n_parts=4), tbl, mode="overwrite")
    assert read_snapshot(spark, tbl, s2, fx.DOCUMENTS_SCHEMA).count() == 50
    # time travel: the pre-overwrite snapshot is still fully readable
    assert read_snapshot(spark, tbl, s1, fx.DOCUMENTS_SCHEMA).count() == 200


def test_snapshot_of_empty_dataframe_reads_back_empty(spark, tmp_path):
    """An empty-DataFrame snapshot (possibly zero part files) must read back
    as an empty frame with schema=, or raise a CLEAR error without one —
    never the confusing zero-path spark.read.parquet() failure (ADVICE r2)."""
    import pytest

    from sat_val_framework_spark.sources.snapshots import read_snapshot, write_snapshot

    tdir = str(tmp_path / "empty_snap")
    schema = "doc_id string, n long"
    empty = spark.createDataFrame([], schema)
    sid = write_snapshot(empty, tdir, mode="overwrite")
    got = read_snapshot(spark, tdir, sid, schema=empty.schema)
    assert got.count() == 0
    assert got.schema == empty.schema
    # without a schema: either a readable zero-row frame (Spark wrote an
    # empty part file) or a clear ValueError naming the snapshot
    try:
        no_schema = read_snapshot(spark, tdir, sid)
        assert no_schema.count() == 0
    except ValueError as e:
        assert sid in str(e)


def test_snapshot_revalidation_stamps_lineage(spark, tmp_path):
    """Re-validating an OLD snapshot stamps its id on every verdict row —
    the RawMetadata lineage contract (implement.py:81-86) end-to-end."""
    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.sources.snapshots import read_snapshot, write_snapshot
    from sat_val_framework_spark.suite import Check, CheckSuite

    tbl = str(tmp_path / "snap_tbl3")
    s1 = write_snapshot(fx.documents_df(spark, 200, n_parts=4), tbl)
    write_snapshot(fx.documents_df(spark, 100, n_parts=4), tbl, mode="append")
    old = read_snapshot(spark, tbl, s1, fx.DOCUMENTS_SCHEMA)
    suite = CheckSuite(checks=[Check("stats", "n_spans", {"max_null_rate": 0.0, "lo": 1, "hi": 64})])
    res = run_suite(spark, old, suite, snapshot_id=s1)
    rows = res.verdicts.collect()
    assert rows and all(r["snapshot_id"] == s1 for r in rows)
    assert sum(r["rows_scanned"] for r in rows) == 200  # the OLD data, exactly


def test_bucketed_table_aggregates_and_joins_without_exchange(spark, tmp_path):
    """Bucketing by doc_id pre-pays the shuffle: groupBy(doc_id) and a
    self-join on doc_id over the bucketed table plan NO shuffle Exchange —
    the co-located layout the uniqueness/dedup checks rely on at 100 TB."""
    from sat_val_framework_spark import fixtures as fx
    from sat_val_framework_spark.sources.writers import read_table, write_bucketed_table

    docs = fx.documents_df(spark, 500, n_parts=4)
    write_bucketed_table(docs, "docs_bkt_test", "doc_id", n_buckets=4)
    t = read_table(spark, "docs_bkt_test")

    agg_plan = (
        t.groupBy("doc_id").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in agg_plan

    a, b = t.alias("a"), t.alias("b")
    join_plan = (
        a.join(b, "doc_id")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in join_plan

    # and the data round-trips intact
    assert t.count() == 500
    spark.sql("DROP TABLE IF EXISTS docs_bkt_test")


def test_incremental_snapshot_validation(spark, tmp_path):
    """Append -> incremental run scans ONLY the added files (asserted via
    inputFiles), and the union of per-increment verdicts equals a full run
    over the same snapshot for partition-scoped constraints (appends carry
    fresh partitions, the date-partitioned-lake regime)."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark.runner import run_suite
    from sat_val_framework_spark.sources.snapshots import (
        added_files,
        read_increment,
        read_snapshot,
        validate_increment,
        write_snapshot,
    )
    from sat_val_framework_spark.suite import Check, CheckSuite

    tbl = str(tmp_path / "inc_tbl")
    base = fx.documents_df(spark, 800, n_parts=4)            # parts 0-3
    s1 = write_snapshot(base, tbl)
    more = fx.documents_df(spark, 400, n_parts=2).withColumn(
        "part_id", F.col("part_id") + 4                       # fresh parts 4-5
    )
    s2 = write_snapshot(more, tbl, mode="append")

    # snapshot diff: only the files s2 added over s1
    s1_files = set(read_snapshot(spark, tbl, s1).inputFiles())
    add = added_files(tbl, s2)
    assert add and not (set(add) & s1_files)
    inc = read_increment(spark, tbl, s2)
    assert inc.count() == 400
    assert set(inc.inputFiles()) == {f"file://{f}" for f in add} or set(inc.inputFiles()) == set(add)

    # partition-scoped suite (global uniqueness is explicitly out of an
    # increment's scope — documented contract)
    suite = CheckSuite([
        Check("schema_assert", params={"not_null": ["spans"]}),
        Check("stats", "n_spans", {"max_null_rate": 0.0, "lo": 1, "hi": 64}),
    ])

    def key(rows):
        return {
            (r["constraint_id"], r["part_id"]): (r["status"], r["rows_scanned"], r["violation_count"])
            for r in rows
        }

    inc1 = validate_increment(spark, tbl, s1, suite=suite)
    inc2 = validate_increment(spark, tbl, s2, suite=suite)
    union = key(inc1.verdicts.collect()) | key(inc2.verdicts.collect())
    full = key(run_suite(spark, read_snapshot(spark, tbl, s2), suite).verdicts.collect())
    assert union == full and len(full) == 12  # 2 constraints x 6 parts

    # lineage: every incremental verdict carries ITS snapshot id
    assert {r["snapshot_id"] for r in inc2.verdicts.collect()} == {s2}
    assert {r["snapshot_id"] for r in inc1.verdicts.collect()} == {s1}


def test_snapshot_file_skipping_with_manifest_stats(spark, tmp_path):
    """Per-file min/max recorded at write time -> range reads skip files
    whose range cannot match (Iceberg-style file skipping): assert via
    inputFiles that pruned reads touch strictly fewer files, rows stay
    exactly correct, and files without stats are never skipped."""
    from sat_val_framework_spark.sources.snapshots import (
        prune_files,
        read_snapshot,
        write_snapshot,
    )

    tbl = str(tmp_path / "stats_tbl")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    # range-partition so files carry disjoint k ranges (the clustered-write
    # regime file skipping exists for)
    s1 = write_snapshot(df.repartitionByRange(8, "k"), tbl, stats_cols=["k"])
    total_files = len(read_snapshot(spark, tbl, s1).inputFiles())
    assert total_files == 8

    kept, total = prune_files(tbl, s1, "k", lo=9000, hi=9999)
    assert total == 8 and 1 <= len(kept) <= 2  # one tail file (+ boundary)

    pruned = read_snapshot(spark, tbl, s1, prune=("k", 9000, 9999))
    assert len(pruned.inputFiles()) == len(kept) < total_files
    # exact rows after the caller's row-level predicate
    assert pruned.filter("k >= 9000").count() == 1000
    full = read_snapshot(spark, tbl, s1).filter("k >= 9000 and k <= 9999").count()
    assert full == 1000

    # append WITHOUT stats: new files must never be skipped
    more = spark.range(20_000, 21_000).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )
    s2 = write_snapshot(more.coalesce(1), tbl, mode="append")  # no stats_cols
    kept2, total2 = prune_files(tbl, s2, "k", lo=0, hi=10)
    # stats-bearing files outside [0,10] skipped; the stats-less file kept
    assert total2 == 9 and len(kept2) == 2
    low = read_snapshot(spark, tbl, s2, prune=("k", 0, 10)).filter("k <= 10")
    assert low.count() == 11


def test_snapshot_cluster_by_makes_pruning_effective(spark, tmp_path):
    """cluster_by range-clusters files at write time so manifest pruning
    actually skips: the same data written unclustered keeps EVERY file
    under a narrow range read (each file spans the whole domain), while the
    clustered write touches O(selectivity) files. Rows stay exact."""
    from sat_val_framework_spark.sources.snapshots import prune_files, read_snapshot, write_snapshot

    # round-robin layout: every file spans ~the whole key domain
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).repartition(8)

    flat = str(tmp_path / "flat_tbl")
    s_flat = write_snapshot(df, flat, stats_cols=["k"])
    kept_flat, total_flat = prune_files(flat, s_flat, "k", lo=4000, hi=4999)
    assert total_flat == 8 and len(kept_flat) == 8  # pruning is useless here

    clus = str(tmp_path / "clustered_tbl")
    s_clus = write_snapshot(df, clus, cluster_by=["k"], n_files=8)
    kept_clus, total_clus = prune_files(clus, s_clus, "k", lo=4000, hi=4999)
    assert total_clus == 8 and 1 <= len(kept_clus) <= 2  # stats recorded automatically

    got = read_snapshot(spark, clus, s_clus, prune=("k", 4000, 4999)).filter(
        "k between 4000 and 4999"
    )
    assert got.count() == 1000


def test_snapshot_schema_capture_and_diff(spark, tmp_path):
    """Writer schemas are recorded per snapshot; schema_diff reports
    added/removed/type-changed columns from manifests alone (no data read).
    Defaults compare the latest write against its parent."""
    from sat_val_framework_spark.sources.snapshots import schema_diff, write_snapshot

    tbl = str(tmp_path / "evo_tbl")
    v1 = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("s"))
    s1 = write_snapshot(v1, tbl)
    # evolution: s -> int (type change), drop nothing, add v
    v2 = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("s"), F.lit(0.5).alias("v")
    )
    s2 = write_snapshot(v2, tbl, mode="append")
    d = schema_diff(tbl)  # parent-vs-latest default
    assert (d["from"], d["to"]) == (s1, s2)
    assert d["added"] == {"v": "double"}
    assert d["removed"] == {}
    assert d["type_changed"] == {"s": ["string", "int"]}

    v3 = spark.range(10).select(F.col("id").alias("k"))
    s3 = write_snapshot(v3, tbl, mode="overwrite")
    d2 = schema_diff(tbl, from_id=s1, to_id=s3)
    assert d2["removed"] == {"s": "string"} and d2["added"] == {} and d2["type_changed"] == {}


def test_write_audit_publish_gates_on_verdicts(spark, tmp_path):
    """WAP: a failing audit leaves the table EXACTLY as it was (no new
    snapshot, old reads unchanged); a passing audit publishes normally.
    The audit runs against the staged bytes and its verdicts come back
    either way."""
    from sat_val_framework_spark.sources.snapshots import (
        read_snapshot,
        snapshots,
        write_audit_publish,
        write_snapshot,
    )

    def audit(staged):
        # toy per-partition constraint: no NULL values of v allowed
        per = staged.groupBy("part").agg(
            F.sum(F.col("v").isNull().cast("long")).alias("nulls")
        )
        return per.select(
            F.lit("no_null_v").alias("constraint_id"),
            F.col("part").alias("part_id"),
            F.when(F.col("nulls") > 0, F.lit("FAIL")).otherwise(F.lit("PASS")).alias("status"),
        )

    tbl = str(tmp_path / "wap_tbl")
    good = spark.range(100).select((F.col("id") % 4).alias("part"), F.col("id").alias("v"))
    s0 = write_snapshot(good, tbl)

    bad = spark.range(50).select(
        (F.col("id") % 4).alias("part"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    sid, verdicts = write_audit_publish(bad, tbl, audit)
    assert sid is None
    assert any(r["status"] == "FAIL" for r in verdicts.collect())
    assert [s["snapshot_id"] for s in snapshots(tbl)] == [s0]  # nothing published
    assert read_snapshot(spark, tbl).count() == 100            # readers see old state

    good2 = spark.range(200, 250).select((F.col("id") % 4).alias("part"), F.col("id").alias("v"))
    sid2, v2 = write_audit_publish(good2, tbl, audit)
    assert sid2 is not None and all(r["status"] == "PASS" for r in v2.collect())
    assert read_snapshot(spark, tbl).count() == 150            # append visible


def test_compact_snapshot_preserves_rows_and_history(spark, tmp_path):
    """Compaction rewrites many small files into few, keeps every row, and
    leaves prior snapshots readable (time travel); with cluster_by the
    rewrite also restores pruning effectiveness."""
    from sat_val_framework_spark.sources.snapshots import (
        compact_snapshot,
        prune_files,
        read_snapshot,
        write_snapshot,
    )

    tbl = str(tmp_path / "compact_tbl")
    sids = []
    for i in range(5):  # five appends of 8 files each -> 40 small files
        df = spark.range(i * 1000, (i + 1) * 1000).select(F.col("id").alias("k")).repartition(8)
        sids.append(write_snapshot(df, tbl))
    assert len(read_snapshot(spark, tbl).inputFiles()) == 40

    sc = compact_snapshot(spark, tbl, target_files=4, cluster_by=["k"])
    after = read_snapshot(spark, tbl)
    assert len(after.inputFiles()) == 4
    assert after.count() == 5000
    assert after.agg(F.sum("k")).collect()[0][0] == sum(range(5000))
    # history preserved: the pre-compaction snapshot still reads 40 files
    assert len(read_snapshot(spark, tbl, sids[-1]).inputFiles()) == 40
    # clustered rewrite: a 10% range read touches 1 file
    kept, total = prune_files(tbl, sc, "k", lo=0, hi=499)
    assert total == 4 and len(kept) == 1


def test_snapshot_bad_mode_fails_before_any_write(spark, tmp_path):
    """A typo'd mode must raise in milliseconds, BEFORE the (possibly
    shuffled) write job runs and orphans staged files."""
    import os

    import pytest

    from sat_val_framework_spark.sources.snapshots import write_audit_publish, write_snapshot

    tbl = str(tmp_path / "mode_tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="unknown mode"):
        write_snapshot(df, tbl, mode="overwite")
    with pytest.raises(ValueError, match="unknown mode"):
        write_audit_publish(df, tbl, lambda s: s, mode="apend")
    assert not os.path.exists(tbl)  # nothing staged, nothing published


def test_compact_preserves_recorded_stats_columns(spark, tmp_path):
    """Plain compaction (no stats_cols argument) must keep recording stats
    for the columns the table already tracks — pruning must not silently
    degrade to full scans after maintenance."""
    from sat_val_framework_spark.sources.snapshots import (
        compact_snapshot,
        prune_files,
        write_snapshot,
    )

    tbl = str(tmp_path / "keepstats_tbl")
    df = spark.range(0, 8_000).select(F.col("id").alias("k"))
    write_snapshot(df.repartitionByRange(8, "k"), tbl, stats_cols=["k"])
    sc = compact_snapshot(spark, tbl, target_files=4)  # no stats_cols passed
    # a query range OUTSIDE the data domain prunes to zero files iff the
    # compacted manifest still records k stats (files without stats are
    # never skipped); the compacted round-robin layout legitimately keeps
    # all files for in-domain ranges, so out-of-domain is the crisp probe
    kept, total = prune_files(tbl, sc, "k", lo=100_000, hi=200_000)
    assert total == 4 and len(kept) == 0


def test_janitor_removes_only_unreferenced_data(spark, tmp_path):
    """WAP-rejected stages become orphan dirs; the janitor removes exactly
    those. expire_snapshots keeps the newest N readable (incl. shared
    append-lineage files) and reclaims the rest."""
    import os

    from sat_val_framework_spark.sources.snapshots import (
        expire_snapshots,
        orphan_data_dirs,
        read_snapshot,
        remove_orphan_dirs,
        snapshots,
        write_audit_publish,
        write_snapshot,
    )

    tbl = str(tmp_path / "jan_tbl")
    df = lambda a, b: spark.range(a, b).select(F.col("id").alias("k"))  # noqa: E731
    s1 = write_snapshot(df(0, 100), tbl)
    s2 = write_snapshot(df(100, 200), tbl, mode="append")
    # a rejected WAP stage -> orphan dir
    sid, _ = write_audit_publish(
        df(200, 300), tbl,
        lambda staged: spark.createDataFrame([("c", "FAIL")], "constraint_id string, status string"),
    )
    assert sid is None
    orphans = orphan_data_dirs(tbl)
    assert len(orphans) == 1
    removed = remove_orphan_dirs(tbl)
    assert removed == orphans and not os.path.exists(removed[0])
    assert read_snapshot(spark, tbl).count() == 200  # published data untouched

    # expire: keep only the newest snapshot; s1's dir is SHARED via append
    # lineage (s2 references it), so nothing is removed and s2 still reads
    out = expire_snapshots(tbl, keep_last=1)
    assert out["expired"] == [s1] and out["removed_dirs"] == []
    assert [s["snapshot_id"] for s in snapshots(tbl)] == [s2]
    assert read_snapshot(spark, tbl).count() == 200

    # an overwrite then expire DOES reclaim the now-unreferenced dirs
    s3 = write_snapshot(df(0, 50), tbl, mode="overwrite")
    out2 = expire_snapshots(tbl, keep_last=1)
    assert out2["expired"] == [s2] and len(out2["removed_dirs"]) == 2  # s1+s2 data dirs
    assert read_snapshot(spark, tbl).count() == 50
    assert [s["snapshot_id"] for s in snapshots(tbl)] == [s3]


def test_janitor_path_spelling_and_expire_parent_repair(spark, tmp_path):
    """(1) The janitor must not classify published dirs as orphans when
    invoked with a different spelling of table_dir than the writer used
    (realpath normalization). (2) After expire_snapshots removes a
    survivor's parent, the parent-following APIs (added_files, schema_diff,
    validate-increment planning) must keep working instead of crashing on
    a dangling snapshot id."""
    import os

    from sat_val_framework_spark.sources.snapshots import (
        added_files,
        expire_snapshots,
        orphan_data_dirs,
        read_snapshot,
        schema_diff,
        write_snapshot,
    )

    # write with a relative spelling, janitor with the absolute one
    rel = os.path.relpath(str(tmp_path / "spell_tbl"))
    write_snapshot(spark.range(20).select(F.col("id").alias("k")), rel)
    assert orphan_data_dirs(str(tmp_path / "spell_tbl")) == []

    tbl = str(tmp_path / "expire_tbl")
    write_snapshot(spark.range(10).select(F.col("id").alias("k")), tbl)
    s2 = write_snapshot(spark.range(10, 30).select(F.col("id").alias("k")), tbl, mode="append")
    expire_snapshots(tbl, keep_last=1)
    # the survivor's expired parent is repaired to None, so added_files
    # reports its whole file list (first-snapshot behavior) and schema_diff
    # raises the documented clear error instead of FileNotFoundError
    assert len(added_files(tbl)) == len(read_snapshot(spark, tbl, s2).inputFiles()) > 0
    import pytest

    with pytest.raises(ValueError, match="no parent"):
        schema_diff(tbl)
    assert read_snapshot(spark, tbl, s2).count() == 30


def test_file_stats_survive_relative_table_dir(spark, tmp_path, monkeypatch):
    """ADVICE r3: manifest stats are keyed by (data-dir uuid, part name), so
    a RELATIVE table_dir — where input_file_name()'s absolute URI never
    string-matches the glob'd manifest path — still records real min/max
    and pruning still skips files."""
    import os

    from sat_val_framework_spark.sources.snapshots import prune_files, write_snapshot

    monkeypatch.chdir(tmp_path)
    tbl = "rel_stats_tbl"  # deliberately relative
    df = spark.range(0, 4_000).select(F.col("id").alias("k"))
    s1 = write_snapshot(df.repartitionByRange(4, "k"), tbl, stats_cols=["k"])
    manifest_stats = _latest_manifest_stats(os.path.abspath(tbl))
    assert manifest_stats and all(v.get("k") for v in manifest_stats.values())
    kept, total = prune_files(tbl, s1, "k", lo=3900, hi=3999)
    assert total == 4 and len(kept) <= 2


def _latest_manifest_stats(table_dir):
    import glob as _glob
    import json as _json
    import os as _os

    paths = sorted(_glob.glob(_os.path.join(table_dir, "snapshots", "*.json")))
    with open(paths[-1]) as f:
        return _json.load(f)["stats"]


def test_catalog_append_roundtrip_v2(spark, tmp_path):
    """The PLANS.md Iceberg swap (`.writeTo(table).append()`) as executable
    code: round-trip verdict-shaped rows through a V2 catalog. In-sandbox
    the catalog is Spark's shipped JDBC V2 catalog over embedded Derby —
    same DataFrameWriterV2 create/append path an Iceberg catalog takes,
    minus Iceberg's snapshotting (covered by sources/snapshots.py)."""
    from sat_val_framework_spark.sources import append_catalog_table

    spark.conf.set(
        "spark.sql.catalog.smokecat",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    spark.conf.set("spark.sql.catalog.smokecat.url", f"jdbc:derby:{tmp_path}/cat;create=true")
    spark.conf.set("spark.sql.catalog.smokecat.driver", "org.apache.derby.jdbc.EmbeddedDriver")

    v1 = spark.createDataFrame(
        [("unique:doc_id", 3, "PASS", 1000), ("unique:doc_id", 7, "FAIL", 1000)],
        "constraint_id string, part_id int, status string, rows_scanned long",
    )
    v2 = spark.createDataFrame(
        [("schema_assert", 3, "PASS", 1000)],
        "constraint_id string, part_id int, status string, rows_scanned long",
    )
    append_catalog_table(v1, "smokecat.verdicts")  # creates
    append_catalog_table(v2, "smokecat.verdicts")  # appends
    got = {
        (r["constraint_id"], r["part_id"], r["status"])
        for r in spark.table("smokecat.verdicts").collect()
    }
    assert got == {
        ("unique:doc_id", 3, "PASS"),
        ("unique:doc_id", 7, "FAIL"),
        ("schema_assert", 3, "PASS"),
    }


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG"),
    reason="no Iceberg catalog configured (set SPARK_GRAFT_ICEBERG_CATALOG "
    "to a spark.sql.catalog.<name> with iceberg-spark-runtime on the classpath)",
)
def test_catalog_append_roundtrip_iceberg(spark):
    """Production-catalog variant: identical round-trip against a real
    Iceberg catalog when one is configured (cluster CI); appends there are
    atomic snapshot commits."""
    from sat_val_framework_spark.sources import append_catalog_table

    cat = os.environ["SPARK_GRAFT_ICEBERG_CATALOG"]
    tbl = f"{cat}.default.sat_val_smoke_verdicts"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    v = spark.createDataFrame(
        [("unique:doc_id", 3, "PASS", 1000)],
        "constraint_id string, part_id int, status string, rows_scanned long",
    )
    append_catalog_table(v, tbl)
    append_catalog_table(v, tbl)
    assert spark.table(tbl).count() == 2
    spark.sql(f"DROP TABLE {tbl}")
