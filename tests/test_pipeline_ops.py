"""Training-pipeline operators: dedup clustering (connected components),
deterministic sampling / splits, and sequence packing — python oracles."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark.functions.dedup import (
    dedup_clusters,
    keep_best_per_cluster,
    keep_one_per_cluster,
)
from sat_val_framework_spark.functions.packing import pack_sequences
from sat_val_framework_spark.functions.sampling import (
    hash_sample,
    mix_sample,
    quantile_threshold_filter,
    stratified_sample,
    target_mix_fractions,
    top_fraction_per_group,
    train_test_split,
)


def test_dedup_clusters_components_and_chain(spark):
    # two components ({1,2,3,4} via a chain, {7,9}) + untouched singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_dedup_clusters_long_chain_converges(spark):
    # a 30-node path graph: worst-case diameter for label propagation
    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 31


def test_keep_one_per_cluster(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 3), (3, 5)], ["doc_a", "doc_b"])
    kept = {r["doc_id"] for r in keep_one_per_cluster(docs, dedup_clusters(pairs)).collect()}
    assert kept == {0, 1, 2, 4}  # 3 and 5 collapse into keeper 1


def test_hash_sample_deterministic_and_key_consistent(spark):
    df = spark.createDataFrame([(i, i % 7) for i in range(2000)], ["k", "v"])
    a = {r["k"] for r in hash_sample(df, "k", 0.3).collect()}
    b = {r["k"] for r in hash_sample(df.repartition(13), "k", 0.3).collect()}
    assert a == b  # repartition-invariant
    assert 0.2 < len(a) / 2000 < 0.4
    # key consistency: sampling a SECOND table on the same key/salt keeps
    # exactly the same key set (joins stay complete)
    df2 = spark.createDataFrame([(i, str(i)) for i in range(2000)], ["k", "s"])
    c = {r["k"] for r in hash_sample(df2, "k", 0.3).collect()}
    assert c == a
    # different salt -> a different (roughly independent) sample
    d = {r["k"] for r in hash_sample(df, "k", 0.3, salt="v2").collect()}
    assert d != a


def test_hash_sample_rejects_bad_fraction(spark):
    df = spark.createDataFrame([(1,)], ["k"])
    with pytest.raises(ValueError):
        hash_sample(df, "k", 1.5)


def test_train_test_split_stable_and_exhaustive(spark):
    df = spark.createDataFrame([(i,) for i in range(3000)], ["k"])
    s = train_test_split(df, "k", 0.1)
    rows = {r["k"]: r["split"] for r in s.collect()}
    assert len(rows) == 3000 and set(rows.values()) == {"train", "test"}
    frac = sum(1 for v in rows.values() if v == "test") / 3000
    assert 0.06 < frac < 0.14
    # growing the table never flips an existing key's side
    bigger = spark.createDataFrame([(i,) for i in range(6000)], ["k"])
    rows2 = {r["k"]: r["split"] for r in train_test_split(bigger, "k", 0.1).collect()}
    assert all(rows2[k] == v for k, v in rows.items())


def test_stratified_sample_per_stratum_fractions(spark):
    rows = [(i, "keep_all" if i % 3 == 0 else ("half" if i % 3 == 1 else "rare"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, ["k", "src"])
    out = stratified_sample(df, "src", {"keep_all": 1.0, "half": 0.5}, key_col="k",
                            default_fraction=0.0)
    got = [(r["k"], r["src"]) for r in out.collect()]
    per = {}
    for _, s in got:
        per[s] = per.get(s, 0) + 1
    assert per["keep_all"] == 1000          # fraction 1.0 keeps everything
    assert 350 < per.get("half", 0) < 650   # ~0.5
    assert "rare" not in per                # default 0.0 drops unlisted strata


def _py_pack(rows, L):
    """Python oracle: concat-and-split packing per shard, ordered by doc."""
    out = []
    by_shard = {}
    for shard, doc, n in sorted(rows):
        if n <= 0:
            continue
        cum = by_shard.get(shard, 0)
        s, e = cum, cum + n
        for seq in range(s // L, (e - 1) // L + 1):
            ps, pe = max(s, seq * L), min(e, seq * L + L)
            out.append((shard, doc, n, seq, ps - seq * L, ps - s, pe - ps))
        by_shard[shard] = e
    return sorted(out)


def test_pack_sequences_matches_python_oracle(spark):
    rows = [("a", i, 10 + (i * 37) % 90) for i in range(200)] + [
        ("b", i, 5000) for i in range(3)  # docs LONGER than a sequence
    ] + [("a", 900, 0)]  # zero-length doc is dropped
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_tokens"])
    got = sorted(
        tuple(r) for r in pack_sequences(df, 256, shard_col="source").collect()
    )
    assert got == _py_pack(rows, 256)


def test_pack_sequences_conservation_invariants(spark):
    rows = [("s", i, 1 + (i * 13) % 300) for i in range(500)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_tokens"])
    out = pack_sequences(df, 128, shard_col="source").collect()
    # every doc's pieces sum to its token count
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["span_tokens"]
    assert per_doc == {i: 1 + (i * 13) % 300 for i in range(500)}
    # every sequence except the final one is EXACTLY full (no padding waste)
    per_seq = {}
    for r in out:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["span_tokens"]
    last = max(per_seq)
    assert all(v == 128 for s, v in per_seq.items() if s != last)


def test_target_mix_fractions_bottleneck_kept_whole(spark):
    """The stratum scarcest relative to its target share survives whole;
    every other listed stratum downsamples to hit the exact mix; unlisted
    strata get no fraction (dropped by mix_sample's default 0)."""
    rows = [(i, "web") for i in range(1000)] + \
           [(10_000 + i, "code") for i in range(1000)] + \
           [(20_000 + i, "junk") for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "src"])
    fr = target_mix_fractions(df, "src", {"web": 0.8, "code": 0.2})
    # scale = min(1000/0.8, 1000/0.2) = 1250 -> web keeps 1000 (whole),
    # code keeps 0.2*1250/1000 = 0.25
    assert fr["web"] == 1.0 and abs(fr["code"] - 0.25) < 1e-12
    assert "junk" not in fr

    out = mix_sample(df, "src", {"web": 0.8, "code": 0.2}, key_col="k")
    per = {}
    for r in out.collect():
        per[r["src"]] = per.get(r["src"], 0) + 1
    assert per["web"] == 1000
    assert 150 < per["code"] < 350  # ~250: hash-threshold, not exact-count
    assert "junk" not in per

    # determinism + repartition invariance: membership is (key, salt) only
    again = {r["k"] for r in mix_sample(df.repartition(13), "src",
             {"web": 0.8, "code": 0.2}, key_col="k").collect()}
    assert again == {r["k"] for r in out.collect()}


def test_target_mix_fractions_validation(spark):
    df = spark.createDataFrame([(1, "a")], ["k", "src"])
    with pytest.raises(ValueError):
        target_mix_fractions(df, "src", {})
    with pytest.raises(ValueError):
        target_mix_fractions(df, "src", {"a": -0.5})
    with pytest.raises(ValueError):
        target_mix_fractions(df, "src", {"absent": 1.0})


def test_keep_best_per_cluster_quality_keeper(spark):
    """Highest score survives per cluster (ties -> lowest id); docs outside
    any cluster pass through; compare against keep_one_per_cluster's
    min-id rule on the same clusters."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5), (9, 5), (42, 1)],
        ["doc_id", "quality"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], ["doc_id", "cluster_id"]
    )
    best = {r["doc_id"] for r in keep_best_per_cluster(docs, clusters, "quality").collect()}
    # cluster 1 -> doc 2 (score 99); cluster 7 -> tie(5,5) -> min id 7; 42 untouched
    assert best == {2, 7, 42}
    minid = {r["doc_id"] for r in keep_one_per_cluster(docs, clusters).collect()}
    assert minid == {1, 7, 42}


def test_weighted_sample_deterministic_and_weight_monotone(spark):
    """Keep probability tracks the row's weight (w=0 none, w=1 all, w=0.5
    roughly half), membership is repartition-invariant, NULL/out-of-range
    weights clip or drop."""
    from sat_val_framework_spark.functions.sampling import weighted_sample

    rows = [(f"k{i}", w) for i in range(400) for w in (0.0, 0.5, 1.0)]
    df = spark.createDataFrame(rows, ["k", "w"]).withColumn(
        "k", F.concat("k", F.format_number("w", 1)))
    kept = weighted_sample(df, "w", "k")
    by_w = {r["w"]: r["n"] for r in kept.groupBy("w").count()
            .withColumnRenamed("count", "n").collect()}
    assert 0.0 not in by_w                # w=0 keeps nothing
    assert by_w[1.0] == 400               # w=1 keeps everything
    assert 130 <= by_w[0.5] <= 270        # ~half, hash-binomial slack
    again = weighted_sample(df.repartition(13), "w", "k")
    assert {(r["k"], r["w"]) for r in again.collect()} == \
           {(r["k"], r["w"]) for r in kept.collect()}
    odd = spark.createDataFrame(
        [("a", None), ("b", 7.5), ("c", -3.0)], ["k", "w"])
    got = {r["k"] for r in weighted_sample(odd, "w", "k").collect()}
    assert got == {"b"}  # NULL drops, >1 clips to 1 (kept), <0 clips to 0


def test_top_fraction_per_group_exact_counts_and_ties(spark):
    """ceil(frac*n) rows kept per group, highest score first, ties -> lowest
    id; result invariant under repartitioning (python oracle)."""
    rows = [("a", i, score) for i, score in enumerate([5, 9, 9, 1, 7, 3, 9])] + \
           [("b", 100 + i, i) for i in range(10)]
    df = spark.createDataFrame(rows, ["grp", "id", "score"])
    out = top_fraction_per_group(df, "grp", "score", 0.3, "id")
    got = {(r["grp"], r["id"]) for r in out.collect()}
    # a: n=7 -> ceil(2.1)=3 kept: scores 9,9,9 at ids 1,2,6 (tie -> low id)
    # b: n=10 -> 3 kept: scores 9,8,7 at ids 109,108,107
    assert got == {("a", 1), ("a", 2), ("a", 6), ("b", 109), ("b", 108), ("b", 107)}
    again = {(r["grp"], r["id"])
             for r in top_fraction_per_group(df.repartition(7), "grp", "score", 0.3, "id").collect()}
    assert again == got
    with pytest.raises(ValueError):
        top_fraction_per_group(df, "grp", "score", 1.5, "id")


def test_quantile_threshold_filter_scale_path(spark):
    """Sketch-threshold variant: per-group and global; on small exact-sketch
    data it keeps >= the exact top-fraction set and every kept score beats
    every dropped score within a group."""
    rows = [("a", i, float(i)) for i in range(100)] + \
           [("b", 1000 + i, float(i % 10)) for i in range(50)]
    df = spark.createDataFrame(rows, ["grp", "id", "score"])
    out = quantile_threshold_filter(df, "score", 0.25, group_col="grp")
    per = {}
    for r in out.collect():
        per.setdefault(r["grp"], []).append(r["score"])
    # group a: distinct scores 0..99, exact quantile -> ~25 kept
    assert 25 <= len(per["a"]) <= 27 and min(per["a"]) >= 74.0
    # group b: heavy ties at the threshold all survive
    assert all(s >= min(per["b"]) for s in per["b"])
    glob = quantile_threshold_filter(df, "score", 0.1)
    assert 0 < glob.count() < 150
    with pytest.raises(ValueError):
        quantile_threshold_filter(df, "score", -0.1)
