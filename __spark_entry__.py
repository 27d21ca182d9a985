"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation query on sf0.001.
``queries()`` exposes every implemented operator shape from SURVEY.md §2
plus the training-data-pipeline operators (dedup / similarity / text /
multimodal); ``oracle_sql()`` gives the DuckDB twin for each
SQL-expressible one. Column aliases match pairwise exactly; every double
is rounded to 6dp on BOTH sides so order-insensitive value hashes agree.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sat_val_framework_spark.functions import dedup, multimodal, similarity, text
from sat_val_framework_spark.functions.bloom import bloom_anti_join
from sat_val_framework_spark.operators.uniqueness import duplicate_keys

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like _t but fanned out to the session parallelism when the file is a
    single tiny split: CPU-heavy per-row ops (shingling, hashing) would
    otherwise run on ONE core. At production scale the input has many
    splits already and this is a no-op."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    # inputFiles() is catalog metadata — unlike df.rdd.getNumPartitions()
    # it doesn't build an RDD lineage per query
    if len(df.inputFiles()) < par:
        df = df.repartition(par)
    return df


def _r6(c) -> F.Column:
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# validation-engine query shapes (B1-B12 over the driver's flat tables)
# ---------------------------------------------------------------------------


def q_stats_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: fused per-group column stats (count / nulls / min / max / avg /
    exact median) in ONE hash-agg pass."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.col("source").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            _r6(F.avg("n_chars")).alias("avg_chars"),
            _r6(F.percentile(F.col("n_chars"), F.lit(0.5))).alias("median_chars"),
        )
    )


def q_null_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/B3: per-group null-rate profile (schema-assert style)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
            F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
            _r6(F.sum(F.col("value").isNull().cast("long")) / F.count(F.lit(1))).alias(
                "null_rate_value"
            ),
        )
    )


def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: salted two-level hash-aggregate duplicate finder."""
    li = _t(spark, sf_dir, "lineitem")
    return duplicate_keys(li, "l_orderkey").withColumnRenamed("l_orderkey", "key")


def q_uniqueness_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 composite-key variant: duplicate (l_orderkey, l_linenumber) tuples
    — the real-table uniqueness shape ((source, doc_id), (doc_id, snapshot));
    same salted two-level aggregate, shuffling on the tuple hash."""
    li = _t(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ["l_orderkey", "l_linenumber"])


def q_uniqueness_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4/B14 skew-stress twin of `uniqueness` (VERDICT r4 #8: put the
    hot-key evidence in the measured record, not just BENCH prose): ~10% of
    lineitem rows are deterministically remapped onto ONE key (-1) before
    the same salted two-level duplicate finder runs. The hot key reaches
    the final reducer as at most #input-splits partial rows, so bench.py's
    `uniqueness_hotkey` latency sitting ~= `uniqueness` latency IS the
    skew-mitigation measurement; a naive single-level groupBy would
    serialize ~10% of the table onto one task."""
    li = _t(spark, sf_dir, "lineitem")
    skewed = li.select(
        F.when(F.col("l_orderkey") % 10 == 0, F.lit(-1).cast("long"))
        .otherwise(F.col("l_orderkey"))
        .alias("key")
    )
    return duplicate_keys(skewed, "key")


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: orphans via broadcast LEFT ANTI join (clean data -> empty set,
    which is itself the assertion)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .select(F.col("o_orderkey").alias("orphan_key"), F.col("o_custkey").alias("fk_value"))
    )


def q_ref_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 positive path: broadcast dim join + rollup metrics per brand."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def q_referential_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 bloom strategy (functions/bloom.py): the no-broadcast scale path.
    Orphans of lineitem.l_partkey against a FILTERED part dim (p_size <= 25)
    so real orphans exist; the bloom composition's answer is EXACTLY the
    left-anti answer (definite map-side misses + verified residue), so the
    oracle is plain NOT IN SQL. Aggregated per returnflag to keep the
    result frame small and array-free."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").where(F.col("p_size") <= 25).select("p_partkey")
    orphans = bloom_anti_join(li, dim, "l_partkey", "p_partkey")
    return orphans.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n_orphans"),
        F.countDistinct("l_partkey").alias("n_orphan_keys"),
    )


def q_span_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 shape on flat data: deterministic per-group sequence numbering
    (orderkey = doc, linenumber = offset)."""
    li = _t(spark, sf_dir, "lineitem")
    # (orderkey, linenumber) is NOT unique in this synthetic data; extend the
    # sort key until total so seq is deterministic at any parallelism
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    return li.select(
        F.col("l_orderkey").alias("doc_key"),
        F.row_number().over(w).alias("seq"),
        F.col("l_linenumber").alias("offset"),
        F.col("l_partkey").alias("ref_key"),
    )


def q_event_gating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: whole-event rejection — an order survives only if EVERY line
    passes (None-propagation contract, implement.py:185-187)."""
    li = _t(spark, sf_dir, "lineitem")
    ok = ((F.col("l_quantity") <= 45) & (F.col("l_discount") <= 0.08)).cast("int")
    return (
        li.groupBy(F.col("l_orderkey").alias("doc_key"))
        .agg(F.min(ok).alias("all_pass"), F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("all_pass") == 1)
        .select("doc_key", "n_members")
    )


_BIN_W, _N_BINS = 20.0, 25  # events.value ∈ [0, 500)


def _drift_base(spark: SparkSession, sf_dir: str):
    """ONE histogram aggregate over events; glob/tot/n_all re-aggregate its
    ~(n_groups x n_bins) rows instead of re-scanning the table, and n_all is
    a 1-row frame crossJoined in (broadcast) — no eager .count() job (r2
    VERDICT item 3: each drift query is now a single job)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = F.least(F.floor(F.col("value") / _BIN_W), F.lit(_N_BINS - 1)).cast("int").alias("bin_id")
    obs = e.groupBy(F.col("event_type").alias("grp"), b).agg(F.count(F.lit(1)).alias("c"))
    glob = obs.groupBy("bin_id").agg(F.sum("c").alias("g"))
    tot = obs.groupBy("grp").agg(F.sum("c").alias("t"))
    nall = obs.agg(F.sum("c").alias("n_all"))
    return obs, glob, tot, nall


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: PSI of each event_type's value histogram vs the global one,
    pure column expressions (JVM-side), fixed bin edges."""
    obs, glob, tot, nall = _drift_base(spark, sf_dir)
    eps = F.lit(1e-6)
    joined = (
        glob.join(obs.join(tot, "grp"), "bin_id")
        .crossJoin(nall)
        .select(
            "grp",
            (F.greatest(F.col("c") / F.col("t"), eps)).alias("p"),
            (F.greatest(F.col("g") / F.col("n_all"), eps)).alias("q"),
        )
    )
    return (
        joined.groupBy("grp")
        .agg(_r6(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))).alias("psi"))
    )


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 (SQL-expressible twin): KS = max |CDF_grp - CDF_global| over the
    binned spine, via window cumulative sums."""
    obs, glob, tot, nall = _drift_base(spark, sf_dir)
    spine = tot.select("grp", "t").crossJoin(glob)
    full = spine.join(obs, ["grp", "bin_id"], "left").crossJoin(nall).select(
        "grp",
        "bin_id",
        (F.coalesce(F.col("c"), F.lit(0)) / F.col("t")).alias("p"),
        (F.col("g") / F.col("n_all")).alias("q"),
    )
    w = Window.partitionBy("grp").orderBy("bin_id")
    cdf = full.select(
        "grp", F.abs(F.sum("p").over(w) - F.sum("q").over(w)).alias("d")
    )
    return cdf.groupBy("grp").agg(_r6(F.max("d")).alias("ks"))


def q_drift_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 family: Wasserstein-1 drift (∫|CDF_grp − CDF_global|, in value
    units) — robust where KS saturates; same single base histogram."""
    obs, glob, tot, nall = _drift_base(spark, sf_dir)
    spine = tot.select("grp", "t").crossJoin(glob)
    full = spine.join(obs, ["grp", "bin_id"], "left").crossJoin(nall).select(
        "grp",
        "bin_id",
        (F.coalesce(F.col("c"), F.lit(0)) / F.col("t")).alias("p"),
        (F.col("g") / F.col("n_all")).alias("q"),
    )
    w = Window.partitionBy("grp").orderBy("bin_id")
    cdf = full.select(
        "grp", F.abs(F.sum("p").over(w) - F.sum("q").over(w)).alias("d")
    )
    return cdf.groupBy("grp").agg(_r6(F.sum("d") * _BIN_W).alias("emd"))


def q_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 family: KL(observed || global) per event_type — more sensitive
    than PSI to NEW mass where the baseline is near zero (emerging values);
    same single base histogram, p=0 bins contribute 0 so only observed
    bins join."""
    obs, glob, tot, nall = _drift_base(spark, sf_dir)
    eps = F.lit(1e-6)
    joined = (
        glob.join(obs.join(tot, "grp"), "bin_id")
        .crossJoin(nall)
        .select(
            "grp",
            (F.col("c") / F.col("t")).alias("p"),
            F.greatest(F.col("g") / F.col("n_all"), eps).alias("q"),
        )
    )
    return joined.groupBy("grp").agg(
        _r6(F.sum(F.col("p") * F.log(F.col("p") / F.col("q")))).alias("kl")
    )


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (operators/drift.py:categorical_drift): per-user-
    bucket event_type frequencies vs the global distribution — total
    variation + Jensen-Shannon, the no-order complement of the binned
    KS/PSI/EMD/KL family. 'drifted' is operator policy, not data — dropped
    so the oracle compares pure statistics."""
    from sat_val_framework_spark.operators.drift import categorical_drift

    e = _t(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 10).cast("long")
    )
    return categorical_drift(e, "event_type", "bucket").select("grp", "n_rows", "tv", "js")


def q_categorical_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 'drift_categorical' suite kind's score engine
    (operators/drift.py:categorical_drift_scores): per-source language-mix
    drift vs a CONFIGURED categorical baseline — here the corpus-global
    lang distribution expressed as a (col_name, value, ref_frac) baseline
    table, the form a suite config ships. Broadcast-spine plan: only
    distinct (source, lang) pairs cross any shuffle."""
    from sat_val_framework_spark.operators.drift import categorical_drift_scores

    d = _t(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    n_all = d.select(F.count(F.lit(1)).alias("n_all"))
    bcat = (
        d.groupBy(F.col("lang").alias("value"))
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_all))
        .select(
            F.lit("lang").alias("col_name"),
            "value",
            (F.col("c") / F.col("n_all")).alias("ref_frac"),
        )
    )
    series = d.select(F.col("source").alias("part_id"), F.col("lang").alias("value"))
    scores = categorical_drift_scores(series, bcat, "lang", part_col="part_id")
    return scores.select(
        "part_id", "n_obs", F.round("tv", 6).alias("tv"), F.round("js", 6).alias("js")
    )


def q_snapshot_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 snapshot semantics under the driver's value-hash gate: write two
    snapshots of disjoint documents subsets into a fresh table dir, then
    TIME-TRAVEL back to snapshot 1 — the returned rows must be exactly the
    first subset even though the table has since grown (manifest-pinned
    file listing; sources/snapshots.py). The oracle is the plain first
    subset: equality IS the time-travel guarantee."""
    import hashlib
    import os
    import shutil
    import tempfile

    from sat_val_framework_spark.sources.snapshots import read_snapshot, write_snapshot

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # fixed per-sf dir, wiped before each build: the returned frame is
    # read lazily by the driver AFTER this function returns, so the files
    # must outlive the call — but reusing one path bounds the leak to a
    # single table per sf instead of one per invocation (review r4)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tbl = os.path.join(tempfile.gettempdir(), f"sat_val_tt_{tag}", "t")
    shutil.rmtree(os.path.dirname(tbl), ignore_errors=True)
    s1 = write_snapshot(d.where(F.col("doc_id") % 3 == 0), tbl)
    write_snapshot(d.where(F.col("doc_id") % 3 == 1), tbl, mode="append")
    return read_snapshot(spark, tbl, s1)


def q_verdict_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: errors-as-values — a mini-suite emitting one verdict row per
    (constraint, group), never raising (implement.py:23-56 contract)."""
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy(F.col("source").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(((F.col("n_chars") < 1) | (F.col("n_chars") > 100000)).cast("long")).alias("oob"),
    )
    dups = (
        d.groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .groupBy(F.col("source").alias("grp"))
        .agg(F.sum("c").alias("dup_rows"))
    )
    base = g.join(dups, "grp", "left").na.fill({"dup_rows": 0})

    def verdict(cid: str, viol):
        return base.select(
            F.lit(cid).alias("constraint_id"),
            F.col("grp"),
            F.when(viol > 0, F.lit("FAIL")).otherwise(F.lit("PASS")).alias("status"),
            viol.cast("long").alias("violation_count"),
        )

    return (
        verdict("rowcount", F.when(F.col("n") > 0, F.lit(0)).otherwise(F.lit(1)))
        .unionByName(verdict("null_text", F.col("null_text")))
        .unionByName(verdict("chars_bounds", F.col("oob")))
        .unionByName(verdict("unique_doc_id", F.col("dup_rows")))
    )


def q_checkpoint_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: resume = left-anti join of the worklist against completed ids."""
    d = _t(spark, sf_dir, "documents")
    worklist = d.select(F.col("source").alias("part_key")).distinct()
    done = worklist.filter(F.col("part_key").isin("src0", "src2", "src4"))
    return worklist.join(done, "part_key", "left_anti")


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_ids joined to ONE string: the driver's pandas canonicalizer cannot
    # sort/hash list-valued cells (unhashable type 'list')
    return dedup.exact_duplicates(_t_wide(spark, sf_dir, "documents")).select(
        "digest", "n_docs", F.array_join(F.col("doc_ids"), ",").alias("doc_ids")
    )


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-exact dedup: case/punct/whitespace-insensitive digest
    groups (functions/dedup.py:normalized_duplicates) — reformatted copies
    at exact-dedup cost."""
    return dedup.normalized_duplicates(_t_wide(spark, sf_dir, "documents")).select(
        "digest", "n_docs", F.array_join(F.col("doc_ids"), ",").alias("doc_ids")
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary profile: top-20 tokens by occurrences + doc frequency
    (functions/text.py:vocab_topk, TakeOrderedAndProject shape)."""
    from sat_val_framework_spark.functions.text import vocab_topk

    return vocab_topk(_t_wide(spark, sf_dir, "documents"), k=20)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: near-dup pairs ACROSS two corpora
    (documents split by doc_id parity as the stand-in train/eval sides) via
    the side-prefixed LSH -> cross-filter -> exact-Jaccard-verify
    composition (functions/dedup.py:cross_contamination)."""
    d = _t_wide(spark, sf_dir, "documents")
    pairs = dedup.cross_contamination(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        threshold=0.5,
    )
    return pairs.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        "jaccard",
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction parity probe: every doc gets synthetic PII (an email,
    an IP, a phone built from its doc_id) appended, redact_pii strips it,
    and the digest of the redacted text is compared against the DuckDB
    twin — the regex pipeline is exercised on EVERY row, not just rows
    that happen to contain PII."""
    from sat_val_framework_spark.functions.text import redact_pii

    d = _t_wide(spark, sf_dir, "documents")  # regex chain is per-row CPU
    synth = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact-"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1 (555) 010-"),
        (F.col("doc_id") % 10000).cast("string"),
    )
    red = redact_pii(synth)
    return d.select(
        "doc_id",
        F.md5(red).alias("redacted_digest"),
        (F.length(synth) - F.length(red)).alias("chars_removed"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per doc: dup-word fraction
    (array exprs, no explode) + top-bigram fraction (explode -> two-level
    hash-agg) — functions/text.py:repetition_profile."""
    from sat_val_framework_spark.functions.text import repetition_profile

    return repetition_profile(_t_wide(spark, sf_dir, "documents"))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH -> exact-Jaccard verify: MinHash banding proposes candidate
    pairs (equi-join on band buckets), exact n-gram Jaccard verifies each.
    No quadratic shape anywhere — the all-pairs shingle self-join
    (dedup.jaccard_pairs) survives only as the pytest oracle."""
    d = _t_wide(spark, sf_dir, "documents")
    sigs = dedup.minhash_signature(d, k=12)
    # r6: materialize the (small) candidate id pairs so the verify stage
    # prunes its shingle explodes to candidate docs only (guide §8 —
    # decide with small rows); without the checkpoint the id scan would be
    # a second consumer re-running the whole LSH pipeline
    cands = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3).localCheckpoint(
        eager=True
    )
    return dedup.jaccard_on_pairs(cands, d, threshold=0.03, prune_docs=True)


def q_ngram_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 13-gram benchmark decontamination (dedup.ngram_hits): docs
    sharing any verbatim 13-gram with the held-out side (doc_id % 7 == 0
    as the stand-in eval set) — the exact-substring complement of the
    MinHash contamination query. Distinct-gram equi-join, no pairwise
    blowup."""
    d = _t_wide(spark, sf_dir, "documents")
    docs = d.where(F.col("doc_id") % 7 != 0)
    ref = d.where(F.col("doc_id") % 7 == 0)
    return dedup.ngram_hits(docs, ref, n=13)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signature(_t_wide(spark, sf_dir, "documents"), k=12)
    return dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (functions/dedup.py:incremental_neardup_pairs):
    odd doc_ids arrive as a new batch and dedup against the even half's
    PERSISTED band-key index — no re-signing of the stored corpus, the
    batch side stays the small join side. The oracle computes the same
    cross-parity restriction of the full-corpus LSH join."""
    d = _t_wide(spark, sf_dir, "documents")
    old = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    new = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    store = dedup.banded_signatures(dedup.minhash_signature(old, k=12), 4, 3)
    nvo, _nvn, _banded = dedup.incremental_neardup_pairs(new, store)
    return nvo


def q_unique_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot uniqueness for an ingest increment
    (operators/uniqueness.py:incremental_unique_check): odd doc_ids arrive
    as the batch and validate against the even half's persisted distinct-
    key index. Synthetic key collisions: doc_id%14==7 folds onto the even
    id 7 below it (store hits), doc_id%22==19 folds onto an odd id (within-
    batch duplicates) — both violation reasons exercised, first-match-wins
    CASE order mirrored in the oracle."""
    from sat_val_framework_spark.operators.uniqueness import incremental_unique_check

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    ukey = (
        F.when(F.pmod(i, F.lit(14)) == 7, i - 7)
        .when(F.pmod(i, F.lit(22)) == 19, i - 8)
        .otherwise(i)
    )
    keyed = d.select("source", "doc_id", ukey.alias("ukey"))
    old = keyed.filter(F.pmod(i, F.lit(2)) == 0)
    new = keyed.filter(F.pmod(i, F.lit(2)) == 1)
    store = old.select("ukey").distinct()
    verdicts, _viol, _inc = incremental_unique_check(
        new, store, key="ukey", part_col="source"
    )
    return verdicts.select(
        "part_id",
        "status",
        "rows_scanned",
        "violation_count",
        F.array_join("sample_violations", ",").alias("samples"),
    )


def q_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guarded LSH (VERDICT r3 #1): buckets over the cap degrade to
    hub-star pairs (O(bucket), connectivity preserved for clustering)
    instead of the O(bucket²) self-join a boilerplate family triggers at
    web scale — functions/dedup.py:capped_bucket_pairs. The cap is
    deliberately tiny (2) so the star path is EXERCISED on this corpus;
    production uses ~10³ and the same plan."""
    sigs = dedup.minhash_signature(_t_wide(spark, sf_dir, "documents"), k=12)
    return dedup.lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=3, max_bucket_size=2, oversize="star"
    )


def q_lsh_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-silent-caps audit twin of lsh_capped: every band bucket over
    the cap with its size — what a capped pipeline logs/persists next to
    the pair output."""
    sigs = dedup.minhash_signature(_t_wide(spark, sf_dir, "documents"), k=12)
    return dedup.lsh_oversized_buckets(sigs, bands=4, rows_per_band=3, max_bucket_size=2)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(_t_wide(spark, sf_dir, "documents"))


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, 16-bit chunk LSH (pigeonhole
    recall guarantee for hamming <= 3), exact popcount verify — the third
    dedup flavor's LSH->verify composition (functions/dedup.py)."""
    return dedup.simhash_near_dup(_t_wide(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH candidate pairs -> one
    canonical cluster id per involved doc (iterative min-label propagation;
    the oracle is a recursive CTE computing the same fixpoint)."""
    d = _t_wide(spark, sf_dir, "documents")
    sigs = dedup.minhash_signature(d, k=12)
    pairs = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3)
    return dedup.dedup_clusters(pairs)


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix reweighting (training-data pipeline op): deterministically
    sample documents so the survivors follow a target source mix at maximum
    retention — src0 (largest target share) is the bottleneck and survives
    whole; the others downsample by (key,salt)-hash threshold. One
    metadata-sized count agg derives the per-source fractions; the filter
    itself is a pure pushed-down predicate (functions/sampling.py)."""
    from sat_val_framework_spark.functions.sampling import mix_sample

    d = _t(spark, sf_dir, "documents")
    return mix_sample(
        d,
        "source",
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.0625},
        key_col="doc_id",
    ).select("doc_id", "source")


def q_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profile over four lineitem measures: unpivot to
    (col_name, v), ONE exact-percentile hash-agg for the fences (6dp-rounded
    both engines; approx=True is the documented sketch path), broadcast the
    4-row fence frame back, one counting hash-agg. Zero windows, zero
    driver-side data (operators/stats.py:outlier_fences)."""
    from sat_val_framework_spark.operators.stats import outlier_fences

    li = _t(spark, sf_dir, "lineitem")
    return outlier_fences(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def q_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate with exact count semantics: keep the top 25%
    of each source's docs by n_chars (ties -> lowest doc_id). One shuffle on
    source feeding stacked Window nodes (row_number + count share the
    partition spec: one Exchange, one Sort, plan-audited);
    quantile_threshold_filter is the documented no-sort
    sketch path for groups that exceed executor memory
    (functions/sampling.py)."""
    from sat_val_framework_spark.functions.sampling import top_fraction_per_group

    d = _t(spark, sf_dir, "documents")
    return top_fraction_per_group(d, "source", "n_chars", 0.25, "doc_id").select(
        "doc_id", "source", "n_chars"
    )


def q_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketches as data (functions/sketch.py:hll_*):
    per-source HLL sketches built over two disjoint hash-halves of
    documents, UNIONED (the persist-and-resume property a scalar
    approx_count_distinct can never give), then estimated — alongside the
    exact distinct count. At these cardinalities the Datasketches sketch
    sits in sparse mode where estimates are exact, so the estimate itself
    goes under the driver's value-hash gate (the dense-mode RSE band is
    pytest-checked in test_sketch.py)."""
    from sat_val_framework_spark.functions.sketch import hll_build, hll_estimate, hll_merge

    d = _t(spark, sf_dir, "documents")
    half_a = d.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half_b = d.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    merged = hll_merge(
        hll_build(half_a, "doc_id", "source"), hll_build(half_b, "doc_id", "source"), "source"
    )
    exact = d.groupBy("source").agg(F.count_distinct("doc_id").alias("n_exact"))
    return exact.join(hll_estimate(merged, "source"), "source").select(
        "source", "n_exact", "distinct_est"
    )


def q_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'distinct' suite kind's operator: per-source cardinality-health
    verdicts on documents.lang (value-space collapse/explosion — the
    complement of per-key uniqueness). Exact mode for the oracle twin;
    approx (HLL++ one-pass, mergeable) is the 10^12-row default
    (operators/stats.py:distinct_bound_check). Samples array_join'd per
    the driver canonicalizer rule."""
    from sat_val_framework_spark.operators.stats import distinct_bound_check

    d = _t(spark, sf_dir, "documents")
    v = distinct_bound_check(d, "lang", part_col="source", lo=5, hi=40, approx=False)
    return v.select(
        "constraint_id",
        "part_id",
        "status",
        "error_kind",
        "rows_scanned",
        "violation_count",
        F.array_join("sample_violations", "|").alias("samples"),
    )


def q_verdict_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suite-report rollup over the mini-suite's verdict frame: one row per
    constraint with status counts, pass rate, violation totals (non-ERROR
    rows only) and the deterministic worst group — ONE hash-agg regardless
    of scale (verdicts.py:summarize_verdicts)."""
    from sat_val_framework_spark.verdicts import summarize_verdicts

    return summarize_verdicts(q_verdict_union(spark, sf_dir), group_col="grp")


def q_span_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-grammar verdicts over synthesized interleaved documents
    (operators/span_grammar.py): build the north-rule spans array
    deterministically from the flat documents table (pure integer
    arithmetic on doc_id — the oracle recomputes the same per-doc flags
    WITHOUT building arrays, so the two paths are independent), then check
    kind vocabulary, text presence, media refs and offset order in one
    scan + one hash-agg. Injected defects: empty span arrays (doc_id%101),
    unknown kind 'video' (%71), empty text (%61), NULL media_ref (%53),
    constant offsets (%97)."""
    from sat_val_framework_spark.operators.span_grammar import span_grammar_check

    synth = _synth_spans(_t(spark, sf_dir, "documents"))
    out = span_grammar_check(
        synth,
        ["text", "image", "audio"],
        part_col="source",
        require_text=True,
        require_spans=True,
    )
    return out.select(
        "part_id",
        "status",
        "rows_scanned",
        "violation_count",
        F.array_join("sample_violations", ",").alias("samples"),
    )


def _synth_spans(d: DataFrame):
    """Deterministic interleaved spans from the flat documents table —
    shared by q_span_grammar and q_span_grammar_profile (one generation
    rule, two operators, one arithmetic oracle)."""
    i = F.col("doc_id")
    n_spans = (F.lit(1) + F.pmod(i, F.lit(5))).cast("int")
    empty_doc = F.pmod(i, F.lit(101)) == 11
    bad_kind_doc = F.pmod(i, F.lit(71)) == 3
    bad_text_doc = (
        (F.pmod(i, F.lit(61)) == 9) & (F.pmod(i, F.lit(3)) != 0) & ~bad_kind_doc
    )
    bad_media_doc = (F.pmod(i, F.lit(53)) == 7) & (n_spans >= 2)
    bad_order_doc = (F.pmod(i, F.lit(97)) == 5) & (n_spans >= 2)

    def span(j):
        is_last = j == n_spans - 1
        kind = (
            F.when(bad_kind_doc & (j == 0), F.lit("video"))
            .when(bad_media_doc & is_last, F.lit("image"))
            .when(F.pmod(i + j, F.lit(3)) != 0, F.lit("text"))
            .otherwise(F.lit("image"))
        )
        is_text = kind == F.lit("text")
        text = F.when(
            is_text,
            F.when(bad_text_doc & (j == 0), F.lit("")).otherwise(
                F.format_string("t-%d-%d", i, j.cast("long"))
            ),
        ).otherwise(F.lit(None).cast("string"))
        ref = F.when(
            ~is_text,
            F.when(bad_media_doc & is_last, F.lit(None).cast("string")).otherwise(
                F.format_string("m-%d", i * 7 + j)
            ),
        ).otherwise(F.lit(None).cast("string"))
        off = F.when(bad_order_doc, F.lit(0)).otherwise(j).cast("int")
        return F.struct(
            kind.alias("kind"), text.alias("text"), ref.alias("media_ref"), off.alias("offset")
        )

    spans = F.when(
        empty_doc,
        F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"),
    ).otherwise(F.transform(F.sequence(F.lit(0), n_spans - 1), span))
    return d.select("source", "doc_id", spans.alias("spans"))


def q_span_grammar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule diagnostic rollup of the same synthesized span arrays
    (operators/span_grammar.py:span_grammar_profile): which grammar rule is
    breaking, where, how often — one hash-agg, one row per partition. The
    oracle recomputes every per-rule count from the generation arithmetic."""
    from sat_val_framework_spark.operators.span_grammar import span_grammar_profile

    synth = _synth_spans(_t(spark, sf_dir, "documents"))
    return span_grammar_profile(
        synth, ["text", "image", "audio"], part_col="source", require_text=True
    )


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-free corpus-overlap screening (sketch.py:hll_overlap_estimate):
    |documents ∩ embeddings| by id via inclusion-exclusion over two HLL
    sketches — one scan per side, a 1-row cross join, no shuffle-join of
    the corpora. lgk=17 keeps both sf tiers in the sketch's exact regime so
    the estimates themselves sit under the value-hash gate (probed: exact
    through 7000 distinct; the dense-mode RSE band is the pytest contract).
    At 100 TB this is the cheap 'is an expensive contamination/backfill
    pass even needed, and how big is it' probe."""
    from sat_val_framework_spark.functions.sketch import hll_build, hll_overlap_estimate

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    e = _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("id"))
    return hll_overlap_estimate(hll_build(d, "id", lgk=17), hll_build(e, "id", lgk=17))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality gate: keep each doc with probability n_chars/2000
    (clipped at 1) — deterministic per (doc_id, salt), so reruns and
    repartitions keep the same rows (functions/sampling.py:weighted_sample).
    Pure pushed-down predicate, no shuffle, no RNG."""
    from sat_val_framework_spark.functions.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").withColumn(
        "w", F.round(F.col("n_chars") / F.lit(2000.0), 6)
    )
    return weighted_sample(d, "w", "doc_id").select("doc_id", "source", "n_chars")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority dedup keeper: MinHash-LSH candidate pairs ->
    connected components -> keep the LONGEST copy per cluster (ties ->
    lowest id) instead of the arbitrary min-id canonical — what production
    dedup does when copies differ in quality. The keeper comes from one
    min_by hash-agg over (membership x n_chars) (partial agg bounds hot
    boilerplate clusters), then a left-anti drop."""
    d = _t_wide(spark, sf_dir, "documents")
    sigs = dedup.minhash_signature(d, k=12)
    pairs = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3)
    clusters = dedup.dedup_clusters(pairs)
    return dedup.keep_best_per_cluster(d, clusters, "n_chars").select(
        "doc_id", "source", "n_chars"
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, repartition-invariant 25% sample by doc_id hash —
    df.sample() would change under retries/cluster size; this never does."""
    from sat_val_framework_spark.functions.sampling import hash_sample

    return hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 0.25).select(
        "doc_id", "source", "n_chars"
    )


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof train/test assignment: side is a pure function of
    (doc_id, salt) — no key ever migrates between sides."""
    from sat_val_framework_spark.functions.sampling import train_test_split

    return train_test_split(_t(spark, sf_dir, "documents"), "doc_id", 0.1).select(
        "doc_id", "split"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep fractions (downsample dominant sources, keep rare
    ones whole) with the same deterministic key hash."""
    from sat_val_framework_spark.functions.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "source", {"src0": 1.0, "src1": 0.5}, key_col="doc_id", default_fraction=0.1
    ).select("doc_id", "source")


_SEQ_LEN = 2048


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: documents laid end-to-end into
    2048-token training sequences per source shard, docs spanning sequence
    boundaries split (one row per placement)."""
    from sat_val_framework_spark.functions.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    with_len = d.select(
        "source", "doc_id", text.n_tokens_col(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(with_len, _SEQ_LEN, shard_col="source")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_t_wide(spark, sf_dir, "documents"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(_t_wide(spark, sf_dir, "documents"))


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count (pre-tokenizer match count) — the
    training-token budget proxy; whitespace count is q_token_count."""
    return text.token_count_bpe(_t_wide(spark, sf_dir, "documents"))


def q_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merges-table BPE token count (VERDICT r4 #3): pre-tokenize,
    byte-pair encode each pre-token against the rank-ordered toy merges
    table in an Arrow pandas_udf, count final symbols per doc. One scan +
    one Arrow stage (plan-asserted in tests); the DuckDB twin exploits the
    table's closure property (no merge output creates a lower-rank pair)
    to express the encode as a rank-ordered replace() chain with
    single-char aliases and count symbols with length()."""
    return text.bpe_token_count(_t_wide(spark, sf_dir, "documents"))


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving image resize plumbing (mapInPandas over binary
    content; pixel resample stubbed deterministically, geometry real)."""
    from sat_val_framework_spark.fixtures import media_catalog_df

    media = multimodal.media_table(media_catalog_df(spark, 500))
    return multimodal.resize_images(media, max_side=32)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_t_wide(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t_wide(spark, sf_dir, "documents"))


def q_ann_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.threshold_pairs(emb, emb.filter(F.col("vec_id") < 5), threshold=0.2)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, n_bits=8)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (inverted-list ANN; rows-only check — the
    exact twin is ann_topk). See similarity.ivf_topk for the scale story."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=3)


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with Lloyd-refined centroids (VERDICT r3 #5): 2 k-means
    iterations as DataFrame aggs (assign-by-literal-dot -> per-cell
    per-dim avg, 6dp-rounded for engine reproducibility), then the same
    literal-centroid probe plan as ann_ivf. The oracle unrolls the
    identical two iterations in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.train_ivf_centroids(emb, n_centroids=16, n_iters=2)
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=3,
        centroids=cents,
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_stats(_t(spark, sf_dir, "embeddings"))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing over binary media content (decode stubbed
    deterministically — no image libs in this container). Rows-only check."""
    from sat_val_framework_spark.fixtures import media_catalog_df

    media = multimodal.media_table(media_catalog_df(spark, 500))
    return multimodal.decode_features(media)


def q_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for audio/video media, one row per planned frame
    (exploded: the driver's canonicalizer cannot hash array cells)."""
    from sat_val_framework_spark.fixtures import media_catalog_df

    media = multimodal.media_table(media_catalog_df(spark, 500))
    plan = multimodal.frame_sample_plan(media)
    return plan.select(
        "media_ref",
        "media_type",
        F.posexplode("sample_ts_ms").alias("frame_idx", "ts_ms"),
    )


def q_drift_ks_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 proper: KS via Arrow-vectorized applyInPandas over per-group
    histograms. The group histogram is LEFT-joined onto the full global bin
    spine with zero-fill, so the CDF difference is evaluated at EVERY bin —
    an inner join would under-report KS whenever a group has an empty bin
    (same semantics as the SQL twin q_drift_ks, which is its oracle)."""
    import pandas as pd

    obs, glob_counts, _tot, nall = _drift_base(spark, sf_dir)
    glob = glob_counts.crossJoin(nall).select(
        "bin_id", (F.col("g") / F.col("n_all")).alias("q")
    )
    spine = obs.select("grp").distinct().crossJoin(glob)
    full = spine.join(obs, ["grp", "bin_id"], "left").na.fill({"c": 0})

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin_id")
        p = pdf["c"] / pdf["c"].sum()
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "ks": [round(float((p.cumsum() - pdf["q"].cumsum()).abs().max()), 6)],
            }
        )

    return full.groupBy("grp").applyInPandas(ks, schema="grp string, ks double")


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: tumbling 1-hour windowed aggregation over the
    events table driven to completion with a memory sink."""
    # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP. Pin the
    # session TZ to UTC for the duration so the NTZ->TS cast is wall-clock
    # preserving regardless of the caller's session config (restored below).
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(e_schema)
        # file stream sources want a directory; select just the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type").alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_events"), _r6(F.sum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "grp", "n_events", "sum_value")
    )
    import re

    name = "stream_out_" + re.sub(r"\W", "_", sf_dir)
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    return spark.table(name)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each event matched to the
    customer's latest order at-or-before the event time, via the tagged
    union + last(ignorenulls) window composition (functions/asof.py)."""
    from sat_val_framework_spark.functions.asof import as_of_join

    # keep TIMESTAMP_NTZ end-to-end: values are then independent of the
    # caller's session timezone (matches DuckDB's naive timestamps)
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # unique (key, ts) on the right so ties are deterministic in both engines
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("odate"))
        .agg(F.max("o_orderkey").alias("okey"))
    )
    out = as_of_join(e, o, key="user_id", left_ts="ts", right_ts="odate",
                     payload_cols=["okey", "odate"])
    return out.select(
        "event_id", "user_id",
        F.col("asof_okey").alias("asof_orderkey"),
        F.col("asof_odate").alias("asof_orderdate"),
    )


def _ntz_secs(ts: F.Column) -> F.Column:
    """Seconds since 2024-01-01 00:00:00 wall clock — built from date diff +
    clock components, so it is session-timezone independent on TIMESTAMP_NTZ
    (epoch casts are NOT; CLAUDE.md gotcha)."""
    day = F.datediff(ts.cast("date"), F.lit("2024-01-01").cast("date"))
    return (
        day.cast("long") * 86400 + F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    ).cast("long")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (Spark has no native one): error events within 10
    minutes AFTER a purchase by the same user, via the bucketized equi-join
    composition (functions/asof.py::range_join) — never a
    BroadcastNestedLoop. Second-resolution on both engines."""
    from sat_val_framework_spark.functions.asof import range_join

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", _ntz_secs(F.col("ts")).alias("s")
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event"),
        F.col("s").alias("w_start"),
        (F.col("s") + 600).alias("w_end"),
    )
    left = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_event"), F.col("s").alias("e_s")
    )
    out = range_join(
        left, right, key="user_id", left_ts="e_s",
        right_start="w_start", right_end="w_end", bucket_width=600,
    )
    return out.select(
        "purchase_event",
        "error_event",
        "user_id",
        (F.col("e_s") - F.col("w_start")).cast("long").alias("secs_after"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag + cumulative-sum windows;
    output one row per session."""
    from sat_val_framework_spark.functions.asof import sessionize

    e = _t(spark, sf_dir, "events").select("user_id", "ts")  # TIMESTAMP_NTZ, TZ-independent
    s = sessionize(e, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy(F.col("user_id"), F.col("session_seq")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (subtotals + grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup(F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per user-bucket sum(value) per event type as columns."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum("value"))
    )
    return out.select(
        "bucket", *[_r6(F.col(t)).alias(f"sum_{t}") for t in _EVENT_TYPES]
    )


def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch demo: build a 4×256 CMS over events.user_id, then
    point-estimate the 5 heaviest users and report estimate vs truth
    (estimate never underestimates). The buckets are md5-hashed, so the
    oracle twin reproduces every estimate, not just the bound."""
    from sat_val_framework_spark.functions.sketch import cms_build, cms_estimate

    e = _t(spark, sf_dir, "events")
    sketch = cms_build(e, "user_id", depth=4, width=256)
    top5 = (
        e.groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("key"))
        .limit(5)
    )
    est = cms_estimate(sketch, top5, "key", depth=4, width=256)
    return top5.join(est, "key").select("key", "true_n", "cms_est")


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: event metrics at (day, hour)
    granularities in one pass via ROLLUP — the time-bucketed rollup shape a
    TSDB materializes incrementally. Day/hour from NTZ wall clock
    (session-TZ independent)."""
    e = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hour"),
        "value",
    )
    return e.rollup("day", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all grouping-set combinations."""
    o = _t(spark, sf_dir, "orders")
    return o.cube(F.col("o_orderstatus").alias("st"), F.col("o_orderpriority").alias("pri")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders")
    )


def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum + moving-average windows per customer over order history."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
        _r6(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0))).alias(
            "running_revenue"
        ),
        _r6(F.avg("o_totalprice").over(w.rowsBetween(-2, 0))).alias("mavg3"),
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-bucket LSH +
    exact cosine verify — the scale-safe shape (equi-join on band buckets,
    never an all-pairs crossJoin). The exact all-pairs path survives as the
    pytest recall oracle (tests/test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.4, n_bits=8, bands=2)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SEMANTIC dedup (VERDICT r4 #4): embedding near-dup pairs
    (banded sign-LSH + exact cosine verify) -> connected components
    (pointer-doubling min-label) -> one keeper per cluster — the embedding
    twin of dedup_jaccard's LSH->verify composition, proving the three
    stages compose the way a training pipeline runs them. Output: each
    SURVIVING vec_id with the number of corpus vectors its cluster
    absorbed (n_merged; 1 = no near-dup). Every stage is a bucketed
    equi-join or label iteration — no crossJoin anywhere in the plan."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4, n_bits=8, bands=2)
    clusters = dedup.dedup_clusters(pairs, id_a="vec_a", id_b="vec_b")
    kept = dedup.keep_one_per_cluster(emb.select("vec_id"), clusters, id_col="vec_id")
    sizes = clusters.groupBy(F.col("cluster_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_merged")
    )
    return kept.join(sizes, "vec_id", "left").select(
        "vec_id", F.coalesce("n_merged", F.lit(1)).cast("long").alias("n_merged")
    )


def q_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data gate: keep documents that pass quality,
    language, AND exact-dedup (keep the lowest doc_id of each digest group)
    — the B10 whole-document rejection shape applied to a real pipeline."""
    d = _t_wide(spark, sf_dir, "documents")
    # r6 single-scan shape (guide §1.2): score, lang, and digest come out of
    # ONE projection (sharing the stopword regex the old 3-scan/3-join plan
    # evaluated twice); the exact-dedup keeper (lowest doc_id per digest)
    # and its quality/lang ride ONE min_by hash-agg — keeper-then-filter is
    # the same set as filter-then-semi-join because keeper selection never
    # looked at quality/lang
    t = F.col("text")
    base = d.select(
        "doc_id",
        text.quality_score_col(t).alias("quality_score"),
        text.lang_pred_col(t).alias("lang_pred"),
        F.md5("text").alias("digest"),
    )
    kept = base.groupBy("digest").agg(
        F.min_by(F.struct("doc_id", "quality_score", "lang_pred"), "doc_id").alias("k")
    )
    return (
        kept.select("k.*")
        .filter((F.col("quality_score") >= 0.4) & (F.col("lang_pred") == "en"))
        .select("doc_id", F.col("quality_score"))
    )


def q_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact distinct counts (cardinality profile; the
    approx_count_distinct HLL path is the 10^12-row variant, pytest-checked
    against this exact one)."""
    from sat_val_framework_spark.operators.stats import cardinality_profile

    d = _t(spark, sf_dir, "documents")
    return cardinality_profile(d, ["doc_id", "text"], "source")


def q_frequent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile: top-10 part keys by lineitem frequency."""
    from sat_val_framework_spark.operators.stats import frequent_values

    return frequent_values(_t(spark, sf_dir, "lineitem"), "l_partkey", k=10)


def q_value_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event_type distribution per user bucket —
    categorical-degeneracy drift signal."""
    from sat_val_framework_spark.operators.stats import distribution_entropy

    e = _t(spark, sf_dir, "events").withColumn("bucket", F.col("user_id") % 10)
    return distribution_entropy(e, "event_type", "bucket")


def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (percentile == ANSI percentile_cont ==
    DuckDB quantile_cont); approx_percentile is the documented 10^12-row
    path (operators/stats.py:quantile_profile)."""
    from sat_val_framework_spark.operators.stats import quantile_profile

    return quantile_profile(_t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_returnflag")


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profile: parts supplied by more than one
    supplier (l_partkey -/-> l_suppkey), via one partial-distinct hash-agg
    (operators/uniqueness.py:fd_violations)."""
    from sat_val_framework_spark.operators.uniqueness import fd_violations

    return fd_violations(_t(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey")


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic OLAP shape: TPC-H Q1-style wide aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy(F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls"))
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: top 3 customers by order revenue per nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"), F.col("c_custkey").alias("cust"))
        .agg(_r6(F.sum("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy(F.col("revenue").desc(), F.col("cust"))
    return rev.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the verdict-union validation suite on sf0.001."""
    return q_verdict_union(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ordering is deliberate: the driver's correctness window checks a
    # 50-query prefix per round, so the 36 queries whose last driver check
    # was round 4 (round 5 re-checked the other 50) come FIRST — keeping
    # every query inside a recent driver-checked window (VERDICT r5 #7,
    # same rotation as r4->r5)
    return {
        # --- last driver-checked in round 4 (rotate to the front) ---
        "time_rollup": q_time_rollup,
        "cube_revenue": q_cube_revenue,
        "running_totals": q_running_totals,
        "cardinality_profile": q_cardinality_profile,
        "frequent_values": q_frequent_values,
        "value_entropy": q_value_entropy,
        "stats_per_source": q_stats_per_source,
        "null_rates": q_null_rates,
        "uniqueness": q_uniqueness,
        "uniqueness_multi": q_uniqueness_multi,
        "fd_violations": q_fd_violations,
        "quantile_profile": q_quantile_profile,
        "referential_orphans": q_referential_orphans,
        "referential_bloom": q_referential_bloom,
        "ref_coverage": q_ref_coverage,
        "span_canonicalize": q_span_canonicalize,
        "event_gating": q_event_gating,
        "drift_psi": q_drift_psi,
        "drift_ks": q_drift_ks,
        "drift_emd": q_drift_emd,
        "drift_kl": q_drift_kl,
        "categorical_drift": q_categorical_drift,
        "verdict_union": q_verdict_union,
        "checkpoint_pending": q_checkpoint_pending,
        "dedup_exact": q_dedup_exact,
        "dedup_normalized": q_dedup_normalized,
        "vocab_topk": q_vocab_topk,
        "contamination": q_contamination,
        "pii_redact": q_pii_redact,
        "repetition": q_repetition,
        "dedup_jaccard": q_dedup_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "dedup_clusters": q_dedup_clusters,
        "hash_sample": q_hash_sample,
        # --- round-5-checked 50 ---
        "train_test_split": q_train_test_split,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "fingerprint": q_fingerprint,
        "token_count": q_token_count,
        "token_count_bpe": q_token_count_bpe,
        "media_resize": q_media_resize,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "ann_threshold": q_ann_threshold,
        "ann_topk": q_ann_topk,
        "ann_bucketed": q_ann_bucketed,
        "embedding_stats": q_embedding_stats,
        "multimodal_features": q_multimodal_features,
        "frame_plan": q_frame_plan,
        "drift_ks_pandas": q_drift_ks_pandas,
        "streaming_window": q_streaming_window,
        "tpch_q1": q_tpch_q1,
        "topk_per_group": q_topk_per_group,
        "asof_join": q_asof_join,
        "span_grammar": q_span_grammar,
        "incremental_dedup": q_incremental_dedup,
        "unique_incremental": q_unique_incremental,
        "span_grammar_profile": q_span_grammar_profile,
        "semantic_dedup": q_semantic_dedup,
        "bpe_count": q_bpe_count,
        "uniqueness_hotkey": q_uniqueness_hotkey,
        "mix_sample": q_mix_sample,
        "dedup_keep_best": q_dedup_keep_best,
        "top_fraction": q_top_fraction,
        "outlier_fences": q_outlier_fences,
        "distinct_hll": q_distinct_hll,
        "corpus_overlap": q_corpus_overlap,
        "weighted_sample": q_weighted_sample,
        "verdict_summary": q_verdict_summary,
        "distinct_bound": q_distinct_bound,
        "lsh_capped": q_lsh_capped,
        "lsh_oversized": q_lsh_oversized,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "categorical_check": q_categorical_check,
        "ngram_decontam": q_ngram_decontam,
        "snapshot_travel": q_snapshot_travel,
        "range_join": q_range_join,
        "sessionize": q_sessionize,
        "rollup_revenue": q_rollup_revenue,
        "pivot_events": q_pivot_events,
        "dedup_embedding": q_dedup_embedding,
        "training_filter": q_training_filter,
        "ann_ivf": q_ann_ivf,
        "cms_freq": q_cms_freq,
    }


# DuckDB twins. Tables pre-registered as views. Aliases match Spark exactly.
_STOP_SQL = r"\b(the|a|an|and|of|to|in|is|it|for|on|with)\b"
_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')"
_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(t)-2, 1)), "
    "j -> array_to_string(list_slice(t, j, j+2), ' '))"
)


def _minhash_sig_sql() -> str:
    """Mirror dedup.minhash_signature: per-shingle 32-bit content hash, k
    affine-permutation mins (same A/B constants), grouped per doc."""
    from sat_val_framework_spark.functions.dedup import _M32, _MINHASH_A, _MINHASH_B

    mins = ", ".join(
        f"min(({_MINHASH_A[i]} * h32 + {_MINHASH_B[i]}) % {_M32}) AS m{i}" for i in range(12)
    )
    return mins


def _simhash_sql() -> str:
    bits = " || ".join(
        "case when 2 * len(list_filter(t, x -> strpos('89abcdef', substr(md5(x), %d, 1)) > 0)) "
        ">= len(t) then '1' else '0' end" % (j + 1)
        for j in range(16)
    )
    return bits


# BPE pre-tokenizer pattern for the DuckDB twin (RE2): same lookahead-free
# pattern as text.BPE_TOKEN_RE, with the quote doubled for a SQL literal
from sat_val_framework_spark.functions.text import BPE_TOKEN_RE as _BPE_RE

_BPE_RE_SQL = _BPE_RE.replace("'", "''")

def _shingles_sql(n: int) -> str:
    """Word n-gram shingles over the tokenized column t (the _SHINGLES
    3-gram literal, generalized)."""
    return (
        f"list_transform(generate_series(1, greatest(len(t)-{n - 1}, 1)), "
        f"j -> array_to_string(list_slice(t, j, j+{n - 1}), ' '))"
    )


# MinHash->LSH banding CTE chain, shared by the minhash_lsh oracle and the
# dedup_jaccard (LSH->verify) oracle. Mirrors dedup.minhash_signature +
# dedup.lsh_candidate_pairs with k=12, bands=4, rows_per_band=3.
_LSH_CTES = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM toks),
    hashed AS (SELECT doc_id,
                      ('0x' || substr(md5(shingle), 1, 15))::bigint % 4294967296 AS h32
               FROM sh),
    sig AS (SELECT doc_id, {_minhash_sig_sql()} FROM hashed GROUP BY doc_id),
    bands AS (
        SELECT doc_id, b.band_id,
               CASE b.band_id
                 WHEN 0 THEN md5(m0::varchar || '|' || m1::varchar || '|' || m2::varchar)
                 WHEN 1 THEN md5(m3::varchar || '|' || m4::varchar || '|' || m5::varchar)
                 WHEN 2 THEN md5(m6::varchar || '|' || m7::varchar || '|' || m8::varchar)
                 ELSE md5(m9::varchar || '|' || m10::varchar || '|' || m11::varchar)
               END AS band_key
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_id) b)
"""


# 64-bit SimHash + 16-bit-chunk LSH + exact hamming verify, an independent
# twin of dedup.simhash_near_dup (explode -> md5 once -> digit decode -> 64
# bit-vote sums -> majority bit string; chunk equi-join; per-bit compare).
# Spark packs the signature into two longs and joins on integer chunk keys;
# the bit string's 16-char substrings partition the same bits, so both
# sides find the same candidate pairs and distances.
def _simhash64_near_dup_sql(max_hamming: int = 3) -> str:
    digits = ", ".join(
        f"('0x' || substr(h, {k + 1}, 1))::bigint AS g{k}" for k in range(16)
    )
    votes = ", ".join(
        f"sum(CASE WHEN (g{j // 4} & {1 << (3 - j % 4)}) > 0 THEN 1 ELSE 0 END) AS v{j}"
        for j in range(64)
    )
    sig = " || ".join(
        f"CASE WHEN v{j} * 2 >= n_tok THEN '1' ELSE '0' END" for j in range(64)
    )
    return f"""
        WITH toks64 AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        h64 AS (SELECT doc_id, md5(tok) AS h FROM toks64),
        g64 AS (SELECT doc_id, {digits} FROM h64),
        v64 AS (SELECT doc_id, count(*) AS n_tok, {votes} FROM g64 GROUP BY doc_id),
        sig64 AS (SELECT doc_id, {sig} AS simhash FROM v64),
        chunks AS (SELECT doc_id, simhash, j.chunk_id,
                          substr(simhash, j.chunk_id * 16 + 1, 16) AS chunk_key
                   FROM sig64, (SELECT unnest([0, 1, 2, 3]) AS chunk_id) j),
        cand64 AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                                   b.doc_id AS doc_b, b.simhash AS sig_b
                   FROM chunks a JOIN chunks b
                     ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
                    AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM (
            SELECT doc_a, doc_b,
                   list_sum(list_transform(generate_series(1, 64),
                       p -> CASE WHEN substr(sig_a, p::int, 1) != substr(sig_b, p::int, 1)
                                 THEN 1 ELSE 0 END))::int AS hamming
            FROM cand64)
        WHERE hamming <= {max_hamming}
    """


def _kmeans_iter_sql(t: int) -> str:
    """One unrolled Lloyd iteration over cents{t} -> cents{t+1}: assign each
    vector to its argmax-dot cell (ties to the higher cell, matching
    Spark's reverse(array_sort)), then per-cell per-dim means rounded to
    6dp (similarity.train_ivf_centroids); empty cells keep the previous
    centroid."""
    avgs = ", ".join(f"round(avg(e[{j + 1}]), 6)" for j in range(64))
    return f"""dots_a{t} AS (SELECT emb.vec_id, c.cell,
                            list_reduce(list_transform(generate_series(1, 64),
                                                       j -> emb.e[j] * c.ce[j]),
                                        (a, b) -> a + b) AS s
                     FROM emb, cents{t} c),
            a{t} AS (SELECT vec_id, cell FROM
                       (SELECT vec_id, cell,
                               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
                        FROM dots_a{t})
                     WHERE rn = 1),
            avg{t + 1} AS (SELECT a{t}.cell, [{avgs}] AS ce
                           FROM emb JOIN a{t} USING (vec_id) GROUP BY a{t}.cell),
            cents{t + 1} AS (SELECT c.cell, coalesce(n.ce, c.ce) AS ce
                             FROM cents{t} c LEFT JOIN avg{t + 1} n USING (cell))"""


def _bpe_chain_sql(col: str = "text") -> str:
    """Rank-ordered replace() chain mirroring text.DEFAULT_BPE_MERGES:
    merge i's pattern is its parts (with already-merged parts spelled as
    their alias chars) and its output is private-use chr(0xE000+i). Valid
    ONLY because the merges table is closed (fold-by-rank == textbook BPE)
    — see the DEFAULT_BPE_MERGES comment."""
    from sat_val_framework_spark.functions.text import DEFAULT_BPE_MERGES

    alias: dict[str, str] = {}
    expr = col
    for i, (a, b) in enumerate(DEFAULT_BPE_MERGES):
        pa = alias.get(a, f"'{a}'")
        pb = alias.get(b, f"'{b}'")
        out = f"chr({0xE000 + i})"
        alias[a + b] = out
        expr = f"replace({expr}, {pa} || {pb}, {out})"
    return expr


def _sign_key_sql(start: int = 0, n_bits: int = 8) -> str:
    """Sign-bit bucket key over dims [start, start+n_bits) — DuckDB lists
    are 1-based, Spark arrays 0-based."""
    return "concat(" + ", ".join(
        f"CASE WHEN embedding[{start + i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(n_bits)
    ) + ")"


_SIGN_BUCKET_SQL = _sign_key_sql(0, 8)

# DuckDB twin of fixtures.media_catalog_df(spark, 500): pure row-index
# arithmetic, no data files (the Spark side synthesizes the same table)
_MEDIA_CAT_SQL = """
    SELECT format('m-{:06d}', i) AS media_ref,
           CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type
    FROM generate_series(0, 499) t(i)
"""

# shared by "drift_ks" and "drift_ks_pandas" (the applyInPandas kernel
# computes the same zero-filled-spine KS; this SQL is the oracle for both);
# the cdf CTE also backs the EMD oracle (sum of |cdf diff| × bin width)
_DRIFT_CDF_PREFIX = """
    WITH e AS (SELECT event_type,
                      least(floor(value / 20.0), 24)::int AS bin_id
               FROM events WHERE value IS NOT NULL),
    obs AS (SELECT event_type AS grp, bin_id, count(*) AS c FROM e GROUP BY 1, 2),
    ghist AS (SELECT bin_id, count(*) AS g FROM e GROUP BY 1),
    tot AS (SELECT event_type AS grp, count(*) AS t FROM e GROUP BY 1),
    n AS (SELECT count(*) AS n_all FROM e),
    spine AS (SELECT tot.grp, tot.t, ghist.bin_id, ghist.g FROM tot, ghist),
    full_h AS (SELECT spine.grp, spine.bin_id,
                      coalesce(obs.c, 0) * 1.0 / spine.t AS p,
                      spine.g * 1.0 / n.n_all AS q
               FROM spine LEFT JOIN obs ON spine.grp = obs.grp AND spine.bin_id = obs.bin_id, n),
    cdf AS (SELECT grp,
                   abs(sum(p) OVER (PARTITION BY grp ORDER BY bin_id)
                     - sum(q) OVER (PARTITION BY grp ORDER BY bin_id)) AS d
            FROM full_h)
"""
_DRIFT_KS_SQL = _DRIFT_CDF_PREFIX + "    SELECT grp, round(max(d), 6) AS ks FROM cdf GROUP BY grp"
_DRIFT_EMD_SQL = (
    _DRIFT_CDF_PREFIX + "    SELECT grp, round(sum(d) * 20.0, 6) AS emd FROM cdf GROUP BY grp"
)


# the mini-suite verdict frame, shared by the verdict_union twin and the
# verdict_summary rollup twin (one source of truth for the 4 constraints)
_VERDICT_UNION_SQL = """
    WITH g AS (SELECT source AS grp, count(*) AS n,
                      count(*) FILTER (text IS NULL) AS null_text,
                      count(*) FILTER (n_chars < 1 OR n_chars > 100000) AS oob
               FROM documents GROUP BY source),
    dups AS (SELECT grp, sum(c) AS dup_rows FROM
                (SELECT source AS grp, doc_id, count(*) AS c FROM documents
                 GROUP BY source, doc_id HAVING count(*) > 1)
             GROUP BY grp),
    base AS (SELECT g.*, coalesce(dups.dup_rows, 0) AS dup_rows
             FROM g LEFT JOIN dups ON g.grp = dups.grp)
    SELECT 'rowcount' AS constraint_id, grp,
           CASE WHEN n > 0 THEN 'PASS' ELSE 'FAIL' END AS status,
           CASE WHEN n > 0 THEN 0 ELSE 1 END::bigint AS violation_count FROM base
    UNION ALL
    SELECT 'null_text', grp,
           CASE WHEN null_text > 0 THEN 'FAIL' ELSE 'PASS' END,
           null_text::bigint FROM base
    UNION ALL
    SELECT 'chars_bounds', grp,
           CASE WHEN oob > 0 THEN 'FAIL' ELSE 'PASS' END,
           oob::bigint FROM base
    UNION ALL
    SELECT 'unique_doc_id', grp,
           CASE WHEN dup_rows > 0 THEN 'FAIL' ELSE 'PASS' END,
           dup_rows::bigint FROM base
"""


def oracle_sql() -> dict[str, str]:
    return {
        # per-doc grammar flags recomputed from the generation rule by pure
        # modular arithmetic — never via span arrays, so a Spark bug in the
        # array path cannot cancel out; sampler mirrored as sorted-slice-10
        "span_grammar": """
            WITH d AS (
              SELECT source, doc_id,
                     1 + (doc_id % 5) AS n_spans,
                     (doc_id % 101 = 11) AS empty_doc
              FROM documents
            ), f AS (
              SELECT source, doc_id,
                empty_doc AS no_spans,
                (NOT empty_doc AND doc_id % 71 = 3) AS bad_kind,
                (NOT empty_doc AND doc_id % 61 = 9 AND doc_id % 3 <> 0
                     AND doc_id % 71 <> 3) AS bad_text,
                (NOT empty_doc AND doc_id % 53 = 7 AND n_spans >= 2) AS bad_media,
                (NOT empty_doc AND doc_id % 97 = 5 AND n_spans >= 2) AS bad_order
              FROM d
            ), v AS (
              SELECT source,
                (no_spans OR bad_kind OR bad_text OR bad_media OR bad_order) AS violated,
                doc_id::VARCHAR || ':' || concat_ws('+',
                   CASE WHEN no_spans THEN 'no_spans' END,
                   CASE WHEN bad_kind THEN 'bad_kind' END,
                   CASE WHEN bad_text THEN 'bad_text' END,
                   CASE WHEN bad_media THEN 'bad_media' END,
                   CASE WHEN bad_order THEN 'bad_order' END) AS ann
              FROM f
            )
            SELECT source AS part_id,
                   CASE WHEN count(*) FILTER (violated) > 0
                        THEN 'FAIL' ELSE 'PASS' END AS status,
                   count(*) AS rows_scanned,
                   (count(*) FILTER (violated))::BIGINT AS violation_count,
                   coalesce(array_to_string(
                       list_slice(list_sort(list(ann) FILTER (violated)), 1, 10),
                       ','), '') AS samples
            FROM v GROUP BY source
        """,
        "span_grammar_profile": """
            WITH d AS (
              SELECT source, doc_id,
                     1 + (doc_id % 5) AS n_spans,
                     (doc_id % 101 = 11) AS empty_doc
              FROM documents
            ), f AS (
              SELECT source,
                empty_doc AS no_spans,
                (NOT empty_doc AND doc_id % 71 = 3) AS bad_kind,
                (NOT empty_doc AND doc_id % 61 = 9 AND doc_id % 3 <> 0
                     AND doc_id % 71 <> 3) AS bad_text,
                (NOT empty_doc AND doc_id % 53 = 7 AND n_spans >= 2) AS bad_media,
                (NOT empty_doc AND doc_id % 97 = 5 AND n_spans >= 2) AS bad_order
              FROM d
            )
            SELECT source AS part_id,
                   count(*) AS n_docs,
                   (count(*) FILTER (no_spans))::BIGINT AS no_spans_docs,
                   (count(*) FILTER (bad_kind))::BIGINT AS bad_kind_docs,
                   (count(*) FILTER (bad_text))::BIGINT AS bad_text_docs,
                   (count(*) FILTER (bad_media))::BIGINT AS bad_media_docs,
                   (count(*) FILTER (bad_order))::BIGINT AS bad_order_docs,
                   (count(*) FILTER (no_spans OR bad_kind OR bad_text
                                     OR bad_media OR bad_order))::BIGINT AS violated_docs
            FROM f GROUP BY source
        """,
        "stats_per_source": """
            SELECT source AS grp,
                   count(*) AS n_docs,
                   count(*) FILTER (text IS NULL) AS n_null_text,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   round(avg(n_chars), 6) AS avg_chars,
                   round(quantile_cont(n_chars, 0.5), 6) AS median_chars
            FROM documents GROUP BY source
        """,
        "null_rates": """
            SELECT event_type AS grp,
                   count(*) AS n_rows,
                   count(*) FILTER (value IS NULL) AS n_null_value,
                   count(*) FILTER (props IS NULL) AS n_null_props,
                   round(count(*) FILTER (value IS NULL) * 1.0 / count(*), 6) AS null_rate_value
            FROM events GROUP BY event_type
        """,
        "uniqueness": """
            SELECT l_orderkey AS key, count(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "uniqueness_multi": """
            SELECT l_orderkey, l_linenumber, count(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
        """,
        "uniqueness_hotkey": """
            SELECT key, count(*) AS dup_count
            FROM (SELECT CASE WHEN l_orderkey % 10 = 0 THEN CAST(-1 AS BIGINT)
                              ELSE l_orderkey END AS key
                  FROM lineitem)
            GROUP BY key HAVING count(*) > 1
        """,
        "fd_violations": """
            SELECT l_partkey,
                   count(DISTINCT l_suppkey) AS n_dependent,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_partkey
            HAVING count(DISTINCT l_suppkey) > 1
        """,
        "quantile_profile": """
            SELECT l_returnflag AS grp,
                   count(l_extendedprice) AS n_values,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
                   round(quantile_cont(l_extendedprice, 0.50), 6) AS q50,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS q75
            FROM lineitem GROUP BY l_returnflag
        """,
        "referential_orphans": """
            SELECT o_orderkey AS orphan_key, o_custkey AS fk_value
            FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        """,
        "ref_coverage": """
            SELECT p_brand AS grp, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "referential_bloom": """
            SELECT l_returnflag AS flag,
                   count(*) AS n_orphans,
                   count(DISTINCT l_partkey) AS n_orphan_keys
            FROM lineitem
            WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size <= 25)
            GROUP BY l_returnflag
        """,
        "span_canonicalize": """
            SELECT l_orderkey AS doc_key,
                   row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS seq,
                   l_linenumber AS offset,
                   l_partkey AS ref_key
            FROM lineitem
        """,
        "event_gating": """
            SELECT l_orderkey AS doc_key, count(*) AS n_members
            FROM lineitem
            GROUP BY l_orderkey
            HAVING min(CASE WHEN l_quantity <= 45 AND l_discount <= 0.08 THEN 1 ELSE 0 END) = 1
        """,
        "drift_psi": """
            WITH e AS (SELECT event_type,
                              least(floor(value / 20.0), 24)::int AS bin_id
                       FROM events WHERE value IS NOT NULL),
            obs AS (SELECT event_type AS grp, bin_id, count(*) AS c FROM e GROUP BY 1, 2),
            ghist AS (SELECT bin_id, count(*) AS g FROM e GROUP BY 1),
            tot AS (SELECT event_type AS grp, count(*) AS t FROM e GROUP BY 1),
            n AS (SELECT count(*) AS n_all FROM e)
            SELECT grp,
                   round(sum((p - q) * ln(p / q)), 6) AS psi
            FROM (SELECT obs.grp,
                         greatest(obs.c * 1.0 / tot.t, 1e-6) AS p,
                         greatest(ghist.g * 1.0 / n.n_all, 1e-6) AS q
                  FROM ghist JOIN obs USING (bin_id) JOIN tot ON obs.grp = tot.grp, n)
            GROUP BY grp
        """,
        "drift_ks": _DRIFT_KS_SQL,
        # drift_categorical suite kind scores: per-source lang mix vs the
        # corpus-global distribution as a configured baseline; Spark's
        # spine join has a row for EVERY (source, baseline-lang) pair
        "categorical_check": """
            WITH d AS (SELECT source, lang FROM documents WHERE lang IS NOT NULL),
            tot AS (SELECT count(*) AS n_all FROM d),
            gdist AS (SELECT lang AS value, count(*) * 1.0 / (SELECT n_all FROM tot) AS q
                      FROM d GROUP BY lang),
            obs AS (SELECT source, lang AS value, count(*) AS c FROM d GROUP BY source, lang),
            totals AS (SELECT source, count(*) AS n_obs FROM d GROUP BY source),
            m AS (SELECT t.source, t.n_obs,
                         coalesce(o.c, 0) * 1.0 / t.n_obs AS p, g.q
                  FROM totals t CROSS JOIN gdist g
                  LEFT JOIN obs o ON o.source = t.source AND o.value = g.value)
            SELECT source AS part_id, n_obs::bigint AS n_obs,
                   round(sum(abs(p - q)) / 2, 6) AS tv,
                   round(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
                           + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END) / 2,
                         6) AS js
            FROM m GROUP BY source, n_obs
        """,
        "categorical_drift": """
            WITH gv AS (SELECT user_id % 10 AS grp,
                               coalesce(event_type, '<NULL>') AS value,
                               count(*) AS c
                        FROM events GROUP BY 1, 2),
            tot AS (SELECT grp, sum(c) AS t FROM gv GROUP BY 1),
            gfreq AS (SELECT value, sum(c) AS g FROM gv GROUP BY 1),
            n AS (SELECT sum(g) AS n_all FROM gfreq),
            full_f AS (SELECT tot.grp, tot.t,
                              coalesce(gv.c, 0) * 1.0 / tot.t AS p,
                              gfreq.g * 1.0 / n.n_all AS q
                       FROM tot CROSS JOIN gfreq CROSS JOIN n
                       LEFT JOIN gv ON gv.grp IS NOT DISTINCT FROM tot.grp
                                   AND gv.value = gfreq.value)
            SELECT grp,
                   max(t)::bigint AS n_rows,
                   round(sum(abs(p - q)) / 2, 6) AS tv,
                   round(sum((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
                            + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END) / 2), 6) AS js
            FROM full_f GROUP BY grp
        """,
        "drift_kl": """
            WITH e AS (SELECT event_type,
                              least(floor(value / 20.0), 24)::int AS bin_id
                       FROM events WHERE value IS NOT NULL),
            obs AS (SELECT event_type AS grp, bin_id, count(*) AS c FROM e GROUP BY 1, 2),
            ghist AS (SELECT bin_id, count(*) AS g FROM e GROUP BY 1),
            tot AS (SELECT event_type AS grp, count(*) AS t FROM e GROUP BY 1),
            n AS (SELECT count(*) AS n_all FROM e)
            SELECT grp,
                   round(sum(p * ln(p / q)), 6) AS kl
            FROM (SELECT obs.grp,
                         obs.c * 1.0 / tot.t AS p,
                         greatest(ghist.g * 1.0 / n.n_all, 1e-6) AS q
                  FROM ghist JOIN obs USING (bin_id) JOIN tot ON obs.grp = tot.grp, n)
            GROUP BY grp
        """,
        "drift_emd": _DRIFT_EMD_SQL,
        # the pandas/Arrow kernel computes the same zero-filled-spine KS, so
        # the SQL twin is its oracle too (VERDICT r1 item 3)
        "drift_ks_pandas": _DRIFT_KS_SQL,
        "verdict_union": _VERDICT_UNION_SQL,
        "distinct_bound": """
            SELECT 'distinct:lang' AS constraint_id, source AS part_id,
                   CASE WHEN count(lang) = 0 THEN 'ERROR'
                        WHEN count(DISTINCT lang) < 5 OR count(DISTINCT lang) > 40
                        THEN 'FAIL' ELSE 'PASS' END AS status,
                   CASE WHEN count(lang) = 0 THEN 'EmptySeriesError' END AS error_kind,
                   count(*)::BIGINT AS rows_scanned,
                   CASE WHEN count(lang) = 0 OR count(DISTINCT lang) < 5
                          OR count(DISTINCT lang) > 40
                        THEN 1 ELSE 0 END::BIGINT AS violation_count,
                   CASE WHEN count(lang) = 0 THEN ''
                        WHEN count(DISTINCT lang) < 5
                        THEN 'distinct=' || count(DISTINCT lang) || '<5'
                        WHEN count(DISTINCT lang) > 40
                        THEN 'distinct=' || count(DISTINCT lang) || '>40'
                        ELSE '' END AS samples
            FROM documents GROUP BY source
        """,
        "verdict_summary": f"""
            WITH verdicts AS ({_VERDICT_UNION_SQL}),
            ranked AS (
                SELECT constraint_id, grp, status, violation_count,
                       row_number() OVER (
                           PARTITION BY constraint_id
                           ORDER BY CASE WHEN status = 'ERROR' THEN 0
                                         ELSE violation_count END DESC, grp
                       ) AS rn
                FROM verdicts),
            agg AS (
                SELECT constraint_id,
                       count(*)::BIGINT AS n_groups,
                       sum(CASE WHEN status = 'PASS' THEN 1 ELSE 0 END)::BIGINT AS n_pass,
                       sum(CASE WHEN status = 'FAIL' THEN 1 ELSE 0 END)::BIGINT AS n_fail,
                       sum(CASE WHEN status = 'ERROR' THEN 1 ELSE 0 END)::BIGINT AS n_error,
                       coalesce(sum(CASE WHEN status <> 'ERROR'
                                         THEN violation_count END), 0)::BIGINT AS total_violations,
                       coalesce(max(CASE WHEN status <> 'ERROR'
                                         THEN violation_count END), 0)::BIGINT AS max_violations,
                       round(sum(CASE WHEN status = 'PASS' THEN 1 ELSE 0 END)
                             / count(*)::DOUBLE, 6) AS pass_rate
                FROM verdicts GROUP BY constraint_id)
            SELECT a.constraint_id, a.n_groups, a.n_pass, a.n_fail, a.n_error,
                   a.total_violations, a.max_violations,
                   CASE WHEN a.total_violations > 0 THEN r.grp END AS worst_group,
                   a.pass_rate
            FROM agg a JOIN ranked r
              ON a.constraint_id = r.constraint_id AND r.rn = 1
        """,
        "checkpoint_pending": """
            SELECT DISTINCT source AS part_key FROM documents
            WHERE source NOT IN ('src0', 'src2', 'src4')
        """,
        "dedup_exact": """
            SELECT md5(text) AS digest, count(*) AS n_docs,
                   array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "dedup_normalized": """
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest,
                   count(*) AS n_docs,
                   array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "vocab_topk": """
            SELECT token,
                   count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
                FROM documents WHERE text IS NOT NULL
            )
            GROUP BY token
            ORDER BY n_occurrences DESC, token ASC
            LIMIT 20
        """,
        # LSH -> verify: exact Jaccard evaluated only on the LSH candidates
        "dedup_jaccard": f"""
            WITH {_LSH_CTES},
            cands AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
            shd AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM toks),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shd GROUP BY doc_id),
            inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
                      FROM cands c
                      JOIN shd a ON a.doc_id = c.doc_a
                      JOIN shd b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                      GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.03
        """,
        # time travel: reading snapshot 1 after an append must return
        # exactly the first write's rows
        "snapshot_travel": """
            SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 3 = 0
        """,
        # exact 13-gram decontamination: distinct grams per side, equi-join
        "ngram_decontam": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            dg AS (SELECT doc_id, unnest(list_distinct({_shingles_sql(13)})) AS gram
                   FROM toks WHERE doc_id % 7 != 0 AND len(t) > 0),
            rg AS (SELECT DISTINCT gram FROM
                     (SELECT unnest(list_distinct({_shingles_sql(13)})) AS gram
                      FROM toks WHERE doc_id % 7 = 0 AND len(t) > 0))
            SELECT doc_id, count(*)::bigint AS n_hits, min(gram) AS first_gram
            FROM dg JOIN rg USING (gram) GROUP BY doc_id
        """,
        # numerically-smallest-10 then string-sorted mirrors bounded_samples
        "unique_incremental": """
            WITH d AS (
              SELECT source, doc_id,
                     CASE WHEN doc_id % 14 = 7 THEN doc_id - 7
                          WHEN doc_id % 22 = 19 THEN doc_id - 8
                          ELSE doc_id END AS ukey
              FROM documents
            ),
            odd AS (SELECT source, ukey,
                           count(*) OVER (PARTITION BY ukey) AS batch_n
                    FROM d WHERE doc_id % 2 = 1),
            store AS (SELECT DISTINCT ukey FROM d WHERE doc_id % 2 = 0),
            viol AS (
              SELECT o.source, o.ukey,
                     row_number() OVER (PARTITION BY o.source ORDER BY o.ukey) AS rn
              FROM odd o
              WHERE o.ukey IN (SELECT ukey FROM store) OR o.batch_n > 1
            ),
            vs AS (
              SELECT source,
                     count(*) AS violation_count,
                     list_sort(list(ukey::VARCHAR) FILTER (rn <= 10)) AS samples
              FROM viol GROUP BY source
            ),
            parts AS (SELECT source, count(*) AS rows_scanned
                      FROM d WHERE doc_id % 2 = 1 GROUP BY source)
            SELECT p.source AS part_id,
                   CASE WHEN coalesce(v.violation_count, 0) > 0
                        THEN 'FAIL' ELSE 'PASS' END AS status,
                   p.rows_scanned,
                   coalesce(v.violation_count, 0)::BIGINT AS violation_count,
                   coalesce(array_to_string(v.samples, ','), '') AS samples
            FROM parts p LEFT JOIN vs v ON p.source = v.source
        """,
        "incremental_dedup": f"""
            WITH {_LSH_CTES}
            SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
            FROM bands n JOIN bands o
              ON n.band_id = o.band_id AND n.band_key = o.band_key
            WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
        """,
        "minhash_lsh": f"""
            WITH {_LSH_CTES}
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        """,
        # capped LSH: buckets <= 2 all-pairs; oversized buckets degrade to
        # hub-star (min doc_id as the hub) — mirrors capped_bucket_pairs
        "lsh_capped": f"""
            WITH {_LSH_CTES},
            sized AS (SELECT doc_id, band_id, band_key,
                             count(*) OVER (PARTITION BY band_id, band_key) AS bs,
                             min(doc_id) OVER (PARTITION BY band_id, band_key) AS hub
                      FROM bands)
            SELECT DISTINCT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sized a JOIN sized b
                  ON a.band_id = b.band_id AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
                WHERE a.bs <= 2
                UNION ALL
                SELECT hub AS doc_a, doc_id AS doc_b
                FROM sized WHERE bs > 2 AND doc_id != hub)
        """,
        "lsh_oversized": f"""
            WITH {_LSH_CTES}
            SELECT band_id::int AS band_id, band_key, count(*)::bigint AS bucket_size
            FROM bands GROUP BY band_id, band_key HAVING count(*) > 2
        """,
        # cross-corpus contamination: the same LSH pipeline over the raw
        # ids — the Spark side's 'a:'/'b:' prefixes only enforce side
        # ordering, the signatures are text-only — with candidates
        # restricted to (even, odd) doc_id pairs (the parity split)
        "contamination": f"""
            WITH {_LSH_CTES},
            nonempty AS (SELECT doc_id FROM toks WHERE len(t) > 0),
            cands AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.band_key = b.band_key
                 AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
                JOIN nonempty na ON na.doc_id = a.doc_id
                JOIN nonempty nb ON nb.doc_id = b.doc_id),
            shd AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM toks),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shd GROUP BY doc_id),
            inter AS (SELECT c.a_id, c.b_id, count(*) AS n_inter
                      FROM cands c
                      JOIN shd a ON a.doc_id = c.a_id
                      JOIN shd b ON b.doc_id = c.b_id AND b.shingle = a.shingle
                      GROUP BY 1, 2)
            SELECT a_id, b_id,
                   round(n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
            WHERE n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5
        """,
        "repetition": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            base AS (SELECT doc_id, t,
                            CASE WHEN len(t) > 0
                                 THEN round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 6)
                            END AS dup_word_frac
                     FROM toks),
            bi AS (SELECT doc_id,
                          unnest(list_transform(generate_series(1, len(t) - 1),
                                                i -> t[i] || ' ' || t[i + 1])) AS bigram
                   FROM base WHERE len(t) >= 2),
            per_big AS (SELECT doc_id, bigram, count(*) AS c FROM bi GROUP BY 1, 2),
            per_doc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams
                        FROM per_big GROUP BY 1)
            SELECT base.doc_id, base.dup_word_frac,
                   round(per_doc.top_c * 1.0 / per_doc.n_bigrams, 6) AS top_bigram_frac
            FROM base LEFT JOIN per_doc ON base.doc_id = per_doc.doc_id
        """,
        "pii_redact": """
            WITH synth AS (
                SELECT doc_id,
                       coalesce(text, '') || ' contact-' || doc_id::varchar
                       || '@example.com from 10.0.' || (doc_id % 256)::varchar
                       || '.7 call +1 (555) 010-' || (doc_id % 10000)::varchar AS s
                FROM documents
            ),
            red AS (
                SELECT doc_id, s,
                       regexp_replace(regexp_replace(regexp_replace(s,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                           '\\+?\\d[\\d()\\- ]{7,}\\d', '<PHONE>', 'g') AS r
                FROM synth
            )
            SELECT doc_id, md5(r) AS redacted_digest,
                   (length(s) - length(r))::bigint AS chars_removed
            FROM red
        """,
        "simhash": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
            SELECT doc_id, {_simhash_sql()} AS simhash FROM toks
        """,
        "simhash_near_dup": _simhash64_near_dup_sql(3),
        # recursive CTE computes the same connected-components fixpoint as
        # the iterative min-label propagation (labels spread along edges
        # until closure; min per node = canonical cluster id)
        "dedup_clusters": f"""
            WITH RECURSIVE {_LSH_CTES},
            cands AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM cands
                      UNION SELECT doc_b, doc_a FROM cands),
            reach(node, label) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
            )
            SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
        """,
        "hash_sample": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE ('0x' || substr(md5('v1:' || doc_id::varchar), 1, 15))::bigint
                  % 1000000 < 250000
        """,
        "weighted_sample": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE ('0x' || substr(md5('w1:' || doc_id::varchar), 1, 15))::bigint
                  % 1000000
                  < trunc(least(round(n_chars / 2000.0, 6), 1.0) * 1000000)::BIGINT
        """,
        "corpus_overlap": """
            WITH a AS (SELECT count(DISTINCT doc_id)::BIGINT AS est_a FROM documents),
                 b AS (SELECT count(DISTINCT vec_id)::BIGINT AS est_b FROM embeddings),
                 u AS (SELECT count(*)::BIGINT AS est_union FROM (
                     SELECT doc_id AS id FROM documents
                     UNION SELECT vec_id FROM embeddings))
            SELECT est_a, est_b, est_union,
                   greatest(0, est_a + est_b - est_union)::BIGINT AS overlap_est
            FROM a, b, u
        """,
        "mix_sample": """
            WITH tgt(source, t) AS (
                VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.125), ('src3', 0.0625)),
            counts AS (
                SELECT d.source, count(*)::DOUBLE AS cnt
                FROM documents d JOIN tgt ON d.source = tgt.source
                GROUP BY d.source),
            fr AS (
                SELECT source,
                       least(1.0, (t * (SELECT min(cnt / t) FROM counts JOIN tgt USING (source))) / cnt) AS frac
                FROM counts JOIN tgt USING (source))
            SELECT d.doc_id, d.source
            FROM documents d JOIN fr ON d.source = fr.source
            WHERE ('0x' || substr(md5('mix-v1:' || d.doc_id::varchar), 1, 15))::bigint
                  % 1000000 < floor(frac * 1000000)
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {_LSH_CTES},
            cands AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM cands
                      UNION SELECT doc_b, doc_a FROM cands),
            reach(node, label) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
            ),
            clusters AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
            ranked AS (
                SELECT c.doc_id,
                       row_number() OVER (PARTITION BY c.cluster_id
                                          ORDER BY d.n_chars DESC, c.doc_id) AS rn
                FROM clusters c JOIN documents d USING (doc_id)),
            dropped AS (SELECT doc_id FROM ranked WHERE rn > 1)
            SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        "outlier_fences": """
            WITH vals AS (
                SELECT 'l_quantity' AS col_name, l_quantity::DOUBLE AS v FROM lineitem
                UNION ALL SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM lineitem
                UNION ALL SELECT 'l_discount', l_discount::DOUBLE FROM lineitem
                UNION ALL SELECT 'l_tax', l_tax::DOUBLE FROM lineitem),
            f AS (
                SELECT col_name, count(v) AS n_values,
                       round(quantile_cont(v, 0.25)
                             - 1.5 * (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)), 6) AS fence_lo,
                       round(quantile_cont(v, 0.75)
                             + 1.5 * (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)), 6) AS fence_hi
                FROM vals GROUP BY col_name)
            SELECT f.col_name, f.n_values, f.fence_lo, f.fence_hi,
                   sum(CASE WHEN v.v < f.fence_lo THEN 1 ELSE 0 END)::BIGINT AS n_low,
                   sum(CASE WHEN v.v > f.fence_hi THEN 1 ELSE 0 END)::BIGINT AS n_high,
                   round((sum(CASE WHEN v.v < f.fence_lo THEN 1 ELSE 0 END)
                          + sum(CASE WHEN v.v > f.fence_hi THEN 1 ELSE 0 END))
                         / f.n_values::DOUBLE, 6) AS outlier_rate
            FROM vals v JOIN f USING (col_name)
            GROUP BY f.col_name, f.n_values, f.fence_lo, f.fence_hi
        """,
        "distinct_hll": """
            SELECT source,
                   count(DISTINCT doc_id)::BIGINT AS n_exact,
                   count(DISTINCT doc_id)::BIGINT AS distinct_est
            FROM documents GROUP BY source
        """,
        "top_fraction": """
            SELECT doc_id, source, n_chars FROM (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id) AS rn,
                       count(*) OVER (PARTITION BY source) AS cnt
                FROM documents)
            WHERE rn <= ceil(0.25 * cnt)
        """,
        "train_test_split": """
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5('split-v1:' || doc_id::varchar), 1, 15))::bigint
                             % 1000000 < 100000
                        THEN 'test' ELSE 'train' END AS split
            FROM documents
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5('v1:' || doc_id::varchar), 1, 15))::bigint % 1000000 <
                  CASE WHEN source = 'src1' THEN 500000
                       WHEN source = 'src0' THEN 1000000
                       ELSE 100000 END
        """,
        "pack_sequences": f"""
            WITH t AS (SELECT source AS shard, doc_id, len({_TOKS})::bigint AS n_tokens
                       FROM documents),
            tf AS (SELECT * FROM t WHERE n_tokens > 0),
            c AS (SELECT shard, doc_id, n_tokens,
                         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS cum_prev
                  FROM tf),
            e AS (SELECT shard, doc_id, n_tokens, cum_prev,
                         unnest(generate_series(cum_prev // 2048,
                                                (cum_prev + n_tokens - 1) // 2048))::bigint AS seq_id
                  FROM c)
            SELECT shard, doc_id, n_tokens, seq_id,
                   (greatest(cum_prev, seq_id * 2048) - seq_id * 2048)::int AS seq_offset,
                   (greatest(cum_prev, seq_id * 2048) - cum_prev)::int AS doc_offset,
                   (least(cum_prev + n_tokens, seq_id * 2048 + 2048)
                    - greatest(cum_prev, seq_id * 2048))::int AS span_tokens
            FROM e
        """,
        "fingerprint": """
            SELECT doc_id,
                   list_min(list_transform(
                       generate_series(1, greatest(length(text) - 31, 1)),
                       j -> md5(substr(text, j::int, 32)))) AS fingerprint
            FROM documents
        """,
        "token_count": f"""
            SELECT doc_id, len({_TOKS})::bigint AS n_tokens FROM documents
        """,
        "token_count_bpe": f"""
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE len(regexp_extract_all(text, '{_BPE_RE_SQL}'))
                   END::bigint AS n_bpe_tokens
            FROM documents
        """,
        # real BPE via the closed toy merges table: fold-by-rank == textbook
        # BPE (no merge output ever creates a lower-rank pair — see
        # text.DEFAULT_BPE_MERGES), each output aliased to one private-use
        # char so length() counts final symbols; whole-text replace equals
        # per-pre-token BPE because adjacent letters always share a
        # pre-token (letter runs are maximal; corpus has no apostrophes)
        "bpe_count": f"""
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE length({_bpe_chain_sql()})
                   END::bigint AS n_bpe_tokens
            FROM documents
        """,
        # geometry is exact: fixture images are 64x64, max_side=32 -> scale
        # 0.5, 32x32; resized_hash = md5(content bytes || '|WxH') both sides
        "media_resize": f"""
            WITH cat AS ({_MEDIA_CAT_SQL}),
            m AS (SELECT media_ref, media_type,
                         'media-bytes:' || media_ref || ':' || repeat(chr(1) || chr(2), 64) AS s
                  FROM cat)
            SELECT media_ref, media_type,
                   (CASE WHEN media_type = 'image' THEN 64 END)::int AS orig_w,
                   (CASE WHEN media_type = 'image' THEN 64 END)::int AS orig_h,
                   (CASE WHEN media_type = 'image' THEN 32 END)::int AS out_w,
                   (CASE WHEN media_type = 'image' THEN 32 END)::int AS out_h,
                   (CASE WHEN media_type = 'image' THEN 0.5 END)::double AS scale,
                   CASE WHEN media_type = 'image' THEN md5(s || '|32x32') END AS resized_hash
            FROM m
        """,
        "quality_score": f"""
            WITH x AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len({_TOKS}) AS n_tokens,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                       len(regexp_extract_all(lower(text), '{_STOP_SQL}')) AS n_stop
                FROM documents),
            y AS (
                SELECT doc_id, n_chars, n_tokens,
                       CASE WHEN n_tokens > 0 THEN n_chars * 1.0 / n_tokens ELSE 0.0 END AS avg_tok,
                       CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END AS stop_ratio,
                       CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio
                FROM x)
            SELECT doc_id, n_chars::bigint AS n_chars, n_tokens::bigint AS n_tokens,
                   round(avg_tok, 6) AS avg_token_len,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(least(stop_ratio * 2.0, 1.0) * 0.5
                         + (CASE WHEN avg_tok >= 3.0 AND avg_tok <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
                         + least(punct_ratio * 20.0, 1.0) * 0.2, 6) AS quality_score
            FROM y
        """,
        "lang_id": f"""
            WITH x AS (
                SELECT doc_id,
                       len({_TOKS}) AS n_tokens,
                       len(regexp_extract_all(lower(text), '{_STOP_SQL}')) AS n_stop
                FROM documents)
            SELECT doc_id,
                   CASE WHEN (CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END) >= 0.05
                        THEN 'en' ELSE 'unk' END AS lang_pred,
                   round(least((CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END) * 5.0, 1.0), 6) AS lang_conf
            FROM x
        """,
        "ann_threshold": """
            SELECT c.vec_id AS neighbor_id, q.vec_id AS query_id,
                   round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos_sim
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
            WHERE c.vec_id != q.vec_id
              AND round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) >= 0.2
        """,
        "ann_topk": """
            WITH scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS s
                FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
                WHERE c.vec_id != q.vec_id),
            ranked AS (
                SELECT query_id, neighbor_id, s,
                       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, round(s, 6) AS cos_sim, rank::int AS rank
            FROM ranked WHERE rank <= 10
        """,
        "embedding_stats": """
            SELECT label AS grp, count(*) AS n_vecs,
                   round(avg(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "streaming_window": """
            SELECT date_trunc('hour', ts) AS w_start, event_type AS grp,
                   count(*) AS n_events, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "tpch_q1": """
            SELECT l_returnflag AS rf, l_linestatus AS ls,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "topk_per_group": """
            WITH rev AS (
                SELECT c_nationkey AS nation, c_custkey AS cust,
                       round(sum(o_totalprice), 6) AS revenue
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2)
            SELECT nation, cust, revenue,
                   rnk FROM (
                SELECT nation, cust, revenue,
                       row_number() OVER (PARTITION BY nation ORDER BY revenue DESC, cust) AS rnk
                FROM rev) WHERE rnk <= 3
        """,
        "asof_join": """
            WITH r AS (SELECT o_custkey AS k, o_orderdate AS ts, max(o_orderkey) AS okey
                       FROM orders GROUP BY 1, 2)
            SELECT e.event_id, e.user_id,
                   (SELECT r.okey FROM r WHERE r.k = e.user_id AND r.ts <= e.ts
                    ORDER BY r.ts DESC LIMIT 1) AS asof_orderkey,
                   (SELECT r.ts FROM r WHERE r.k = e.user_id AND r.ts <= e.ts
                    ORDER BY r.ts DESC LIMIT 1) AS asof_orderdate
            FROM events e
        """,
        "range_join": """
            WITH x AS (SELECT event_id, user_id, event_type,
                              (date_diff('day', DATE '2024-01-01', ts::date) * 86400
                               + date_part('hour', ts) * 3600
                               + date_part('minute', ts) * 60
                               + date_part('second', ts))::bigint AS s
                       FROM events)
            SELECT p.event_id AS purchase_event, e.event_id AS error_event,
                   p.user_id, (e.s - p.s)::bigint AS secs_after
            FROM x p JOIN x e ON p.user_id = e.user_id
            WHERE p.event_type = 'purchase' AND e.event_type = 'error'
              AND e.s BETWEEN p.s AND p.s + 600
        """,
        "sessionize": """
            WITH x AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events),
            y AS (SELECT user_id, ts,
                         -- ::bigint: DuckDB windowed sum() yields HUGEINT,
                         -- which the driver's pandas canon turns into float
                         (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING))::bigint AS session_seq
                  FROM x)
            SELECT user_id, session_seq, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM y GROUP BY user_id, session_seq
        """,
        # CMS cells: bucket_d(key) = md5(d || ':' || key) as 60-bit int mod 256
        "cms_freq": """
            WITH ks AS (SELECT user_id::varchar AS key FROM events),
            ds AS (SELECT unnest([0, 1, 2, 3]) AS row),
            cells AS (
                SELECT ds.row,
                       (('0x' || substr(md5(ds.row || ':' || ks.key), 1, 15))::bigint % 256)::int AS col,
                       count(*) AS c
                FROM ks, ds GROUP BY 1, 2),
            top5 AS (SELECT user_id::varchar AS key, count(*) AS true_n
                     FROM events GROUP BY 1 ORDER BY true_n DESC, key LIMIT 5),
            probes AS (
                SELECT top5.key, top5.true_n, ds.row,
                       (('0x' || substr(md5(ds.row || ':' || top5.key), 1, 15))::bigint % 256)::int AS col
                FROM top5, ds)
            SELECT p.key, p.true_n, min(coalesce(cells.c, 0))::bigint AS cms_est
            FROM probes p LEFT JOIN cells ON p.row = cells.row AND p.col = cells.col
            GROUP BY p.key, p.true_n
        """,
        "time_rollup": """
            SELECT ts::date AS day, date_part('hour', ts)::int AS hour,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY ROLLUP (day, hour)
        """,
        "cube_revenue": """
            SELECT o_orderstatus AS st, o_orderpriority AS pri,
                   round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "running_totals": """
            SELECT o_custkey AS cust, o_orderkey AS okey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 6) AS running_revenue,
                   round(avg(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
            FROM orders
        """,
        "rollup_revenue": """
            SELECT l_returnflag AS rf, l_linestatus AS ls,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "pivot_events": """
            SELECT user_id % 10 AS bucket,
                   round(sum(value) FILTER (event_type = 'click'), 6) AS sum_click,
                   round(sum(value) FILTER (event_type = 'error'), 6) AS sum_error,
                   round(sum(value) FILTER (event_type = 'purchase'), 6) AS sum_purchase,
                   round(sum(value) FILTER (event_type = 'signup'), 6) AS sum_signup,
                   round(sum(value) FILTER (event_type = 'view'), 6) AS sum_view
            FROM events GROUP BY 1
        """,
        "training_filter": f"""
            WITH q AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len({_TOKS}) AS n_tokens,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                       len(regexp_extract_all(lower(text), '{_STOP_SQL}')) AS n_stop
                FROM documents),
            scored AS (
                SELECT doc_id,
                       round(least((CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END) * 2.0, 1.0) * 0.5
                             + (CASE WHEN n_tokens > 0 AND n_chars * 1.0 / n_tokens >= 3.0
                                      AND n_chars * 1.0 / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
                             + least((CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END) * 20.0, 1.0) * 0.2,
                             6) AS quality_score,
                       CASE WHEN (CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END) >= 0.05
                            THEN 'en' ELSE 'unk' END AS lang_pred
                FROM q),
            keeper AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
            SELECT s.doc_id, s.quality_score
            FROM scored s
            WHERE s.quality_score >= 0.4 AND s.lang_pred = 'en'
              AND s.doc_id IN (SELECT doc_id FROM keeper)
        """,
        # banded sign-bucket LSH + exact cosine verify (band 0 = dims 1..8,
        # band 1 = dims 9..16 in DuckDB's 1-based lists)
        "dedup_embedding": f"""
            WITH banded AS (
                SELECT vec_id, embedding, 0 AS band_id, {_sign_key_sql(0, 8)} AS key FROM embeddings
                UNION ALL
                SELECT vec_id, embedding, 1 AS band_id, {_sign_key_sql(8, 8)} AS key FROM embeddings),
            hits AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
                FROM banded a JOIN banded b
                  ON a.band_id = b.band_id AND a.key = b.key AND a.vec_id < b.vec_id),
            agg AS (SELECT vec_a, vec_b, round(max(s), 6) AS cos_sim FROM hits GROUP BY 1, 2)
            SELECT vec_a, vec_b, cos_sim FROM agg WHERE cos_sim >= 0.4
        """,
        # same banded-LSH pair CTE as dedup_embedding, then the recursive
        # connected-components fixpoint (dedup_clusters' oracle shape) and
        # keeper selection: survivors = vectors that are not a non-canonical
        # cluster member; n_merged = cluster size for canonical survivors
        "semantic_dedup": f"""
            WITH RECURSIVE banded AS (
                SELECT vec_id, embedding, 0 AS band_id, {_sign_key_sql(0, 8)} AS key FROM embeddings
                UNION ALL
                SELECT vec_id, embedding, 1 AS band_id, {_sign_key_sql(8, 8)} AS key FROM embeddings),
            hits AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
                FROM banded a JOIN banded b
                  ON a.band_id = b.band_id AND a.key = b.key AND a.vec_id < b.vec_id),
            agg AS (SELECT vec_a, vec_b, round(max(s), 6) AS cos_sim FROM hits GROUP BY 1, 2),
            pairs AS (SELECT vec_a, vec_b FROM agg WHERE cos_sim >= 0.4),
            edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
                      UNION SELECT vec_b, vec_a FROM pairs),
            reach(node, label) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
            ),
            clus AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
            sizes AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY cluster_id)
            SELECT e.vec_id, coalesce(s.sz, 1)::bigint AS n_merged
            FROM embeddings e
            LEFT JOIN sizes s ON s.cluster_id = e.vec_id
            WHERE e.vec_id NOT IN (SELECT node FROM clus WHERE node != cluster_id)
        """,
        "cardinality_profile": """
            SELECT source AS grp, count(*) AS n_rows,
                   count(DISTINCT doc_id) AS n_distinct_doc_id,
                   count(DISTINCT text) AS n_distinct_text
            FROM documents GROUP BY source
        """,
        "frequent_values": """
            SELECT value, n, rank FROM (
                SELECT l_partkey::varchar AS value, count(*) AS n,
                       -- tie-break on the NUMERIC key (Spark ranks before
                       -- the final ::string cast)
                       row_number() OVER (ORDER BY count(*) DESC, l_partkey) AS rank
                FROM lineitem GROUP BY l_partkey)
            WHERE rank <= 10
        """,
        "value_entropy": """
            WITH c AS (SELECT user_id % 10 AS grp, event_type AS v, count(*) AS c
                       FROM events GROUP BY 1, 2)
            SELECT grp, sum(c)::bigint AS n_rows,
                   round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
            FROM c GROUP BY grp
        """,
        # sign-bucket LSH: bucket key = sign bits of dims 0..7 (DuckDB lists
        # are 1-based -> embedding[1..8]); then exact cosine within bucket
        "ann_bucketed": f"""
            WITH b AS (SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, b.vec_id AS neighbor_id,
                       list_cosine_similarity(q.qe::DOUBLE[], b.embedding::DOUBLE[]) AS s
                FROM b JOIN q USING (bucket) WHERE b.vec_id != q.query_id),
            ranked AS (
                SELECT query_id, neighbor_id, s,
                       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, round(s, 6) AS cos_sim, rank::int AS rank
            FROM ranked WHERE rank <= 10
        """,
        # IVF: centroids = first 16 corpus vectors by vec_id (cell = ordinal);
        # dot products as an explicit sequential left fold (list_reduce) so
        # the doubles are bit-identical to Spark's fold; cell argmax breaks
        # ties toward the HIGHER cell index (Spark's reverse(array_sort))
        # IVF with 2 unrolled Lloyd iterations: assign (argmax dot, ties to
        # the higher cell) -> per-cell per-dim avg rounded to 6dp (the
        # rounding makes avg association order irrelevant across engines);
        # empty cells keep their previous centroid (coalesce)
        "ann_ivf_kmeans": f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
                       FROM emb ORDER BY vec_id LIMIT 16),
            {_kmeans_iter_sql(0)},
            {_kmeans_iter_sql(1)},
            dots AS (SELECT emb.vec_id, c.cell,
                            list_reduce(list_transform(generate_series(1, 64),
                                                       j -> emb.e[j] * c.ce[j]),
                                        (a, b) -> a + b) AS s
                     FROM emb, cents2 c),
            c_cell AS (SELECT vec_id AS neighbor_id, cell FROM
                         (SELECT vec_id, cell,
                                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
                          FROM dots)
                       WHERE rn = 1),
            q_cells AS (SELECT vec_id AS query_id, cell FROM
                          (SELECT vec_id, cell,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
                           FROM dots WHERE vec_id < 5)
                        WHERE rn <= 3),
            pairs AS (SELECT DISTINCT query_id, neighbor_id
                      FROM q_cells q JOIN c_cell c USING (cell)
                      WHERE neighbor_id != query_id),
            scored AS (SELECT p.query_id, p.neighbor_id,
                              list_cosine_similarity(a.e, b.e) AS s
                       FROM pairs p
                       JOIN emb a ON a.vec_id = p.query_id
                       JOIN emb b ON b.vec_id = p.neighbor_id),
            ranked AS (SELECT query_id, neighbor_id, s,
                              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, round(s, 6) AS cos_sim, rank::int AS rank
            FROM ranked WHERE rank <= 10
        """,
        "ann_ivf": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
                      FROM emb ORDER BY vec_id LIMIT 16),
            dots AS (SELECT emb.vec_id, cents.cell,
                            list_reduce(list_transform(generate_series(1, 64),
                                                       j -> emb.e[j] * cents.ce[j]),
                                        (a, b) -> a + b) AS s
                     FROM emb, cents),
            c_cell AS (SELECT vec_id AS neighbor_id, cell FROM
                         (SELECT vec_id, cell,
                                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
                          FROM dots)
                       WHERE rn = 1),
            q_cells AS (SELECT vec_id AS query_id, cell FROM
                          (SELECT vec_id, cell,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
                           FROM dots WHERE vec_id < 5)
                        WHERE rn <= 3),
            pairs AS (SELECT DISTINCT query_id, neighbor_id
                      FROM q_cells q JOIN c_cell c USING (cell)
                      WHERE neighbor_id != query_id),
            scored AS (SELECT p.query_id, p.neighbor_id,
                              list_cosine_similarity(a.e, b.e) AS s
                       FROM pairs p
                       JOIN emb a ON a.vec_id = p.query_id
                       JOIN emb b ON b.vec_id = p.neighbor_id),
            ranked AS (SELECT query_id, neighbor_id, s,
                              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, round(s, 6) AS cos_sim, rank::int AS rank
            FROM ranked WHERE rank <= 10
        """,
        # the media fixture is pure integer arithmetic on the row index and
        # the synthesized bytes are a deterministic ASCII string -> the whole
        # decode stub is SQL-expressible (bytes == chars, all code points <128)
        "multimodal_features": f"""
            WITH cat AS ({_MEDIA_CAT_SQL}),
            m AS (SELECT media_ref, media_type,
                         'media-bytes:' || media_ref || ':' || repeat(chr(1) || chr(2), 64) AS s
                  FROM cat),
            x AS (SELECT media_ref, media_type, s, strlen(s) AS n,
                         list_transform(generate_series(1, strlen(s)::int),
                                        j -> ascii(substr(s, j, 1))) AS bytes_l
                  FROM m)
            SELECT media_ref, media_type, n::bigint AS n_bytes,
                   list_sum(bytes_l)::DOUBLE / n AS byte_mean,
                   len(list_distinct(bytes_l)) / 256.0 AS byte_entropy_proxy,
                   md5(s) AS feature_hash
            FROM x
        """,
        "frame_plan": f"""
            WITH cat AS ({_MEDIA_CAT_SQL})
            SELECT media_ref, media_type, t.frame_idx, t.ts_ms
            FROM cat, (VALUES (0, 0), (1, 500)) t(frame_idx, ts_ms)
            WHERE media_type = 'audio'  -- duration 1000ms, sampled every 500ms
        """,
    }
