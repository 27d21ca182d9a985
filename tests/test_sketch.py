"""Count-Min sketch: overestimate guarantee, mergeability, hash-path parity."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark.functions.sketch import cms_build, cms_estimate, cms_merge


@pytest.fixture(scope="module")
def keyed(spark):
    # zipf-ish: key k appears 200//(k+1) times
    rows = [(k,) for k in range(40) for _ in range(200 // (k + 1))]
    return spark.createDataFrame(rows, ["k"])


def test_cms_never_underestimates_and_is_tight_for_heavy_keys(spark, keyed):
    truth = {r["k"]: r["n"] for r in keyed.groupBy(F.col("k")).agg(F.count(F.lit(1)).alias("n")).collect()}
    sketch = cms_build(keyed, "k", depth=4, width=256)
    keys = keyed.select("k").distinct()
    est = {int(r["key"]): r["cms_est"] for r in cms_estimate(sketch, keys, "k", depth=4, width=256).collect()}
    n_total = sum(truth.values())
    for k, true_n in truth.items():
        assert est[k] >= true_n  # CM guarantee: never under
        assert est[k] <= true_n + 2 * n_total / 256 + 1  # expected-error bound (loose)
    # sketch size is depth x width regardless of input
    assert sketch.count() <= 4 * 256


def test_cms_merge_equals_sketch_of_union(spark, keyed):
    a = keyed.filter(F.col("k") % 2 == 0)
    b = keyed.filter(F.col("k") % 2 == 1)
    merged = {(r["row"], r["col"]): r["c"] for r in cms_merge(cms_build(a, "k"), cms_build(b, "k")).collect()}
    whole = {(r["row"], r["col"]): r["c"] for r in cms_build(keyed, "k").collect()}
    assert merged == whole


def test_cms_null_keys_excluded_on_all_paths(spark):
    """NULL keys never enter the sketch or its probes (Spark's concat_ws
    would silently hash them as str(d), diverging from the SQL oracle —
    ADVICE r2)."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark.functions.sketch import cms_build, cms_estimate

    rows = [("a",)] * 5 + [("b",)] * 3 + [(None,)] * 7
    df = spark.createDataFrame(rows, "k string")
    sk = cms_build(df, "k", depth=4, width=64)
    # each depth row's total mass == number of NON-NULL input rows
    mass = {r["row"]: r["m"] for r in sk.groupBy("row").agg(F.sum("c").alias("m")).collect()}
    assert mass == {0: 8, 1: 8, 2: 8, 3: 8}, mass
    probes = spark.createDataFrame([("a",), ("b",), (None,)], "k string")
    est = {r["key"]: r["cms_est"] for r in cms_estimate(sk, probes, "k", depth=4, width=64).collect()}
    assert set(est) == {"a", "b"}  # NULL probe dropped
    assert est["a"] >= 5 and est["b"] >= 3


def test_hll_estimate_accuracy_and_null_exclusion(spark):
    """HLL distinct estimates within ~3x RSE of exact per group; NULL keys
    excluded; small-cardinality groups exact (sparse mode)."""
    from sat_val_framework_spark.functions.sketch import hll_build, hll_estimate

    rows = [("big", f"k{i % 5000}") for i in range(20000)] + \
           [("small", f"s{i}") for i in range(37)] + [("small", None)] * 5
    df = spark.createDataFrame(rows, ["g", "k"])
    est = {r["g"]: r["distinct_est"] for r in
           hll_estimate(hll_build(df, "k", group_col="g", lgk=12), "g").collect()}
    assert est["small"] == 37  # sparse mode is exact; NULLs never entered
    rse = 1.04 / (2 ** 12) ** 0.5
    assert abs(est["big"] - 5000) <= 3 * rse * 5000

    # ungrouped path
    total = hll_estimate(hll_build(df, "k", lgk=12)).collect()[0]["distinct_est"]
    assert abs(total - 5037) <= 3 * rse * 5037


def test_hll_merge_estimate_equals_sketch_of_union(spark):
    """Mergeability — the persist-and-resume property: per-half sketches
    union to the same ESTIMATE as one sketch over everything (bytes are not
    canonical in sparse mode; estimates are), overlapping halves included
    (idempotent under re-insertion)."""
    from sat_val_framework_spark.functions.sketch import hll_build, hll_estimate, hll_merge

    rows = [("g", f"k{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["g", "k"])
    a = df.filter(F.col("k").substr(2, 10).cast("int") < 2000)   # k0..k1999
    b = df.filter(F.col("k").substr(2, 10).cast("int") >= 1500)  # k1500.. (overlap)
    merged = hll_merge(hll_build(a, "k", "g"), hll_build(b, "k", "g"), "g")
    est_m = hll_estimate(merged, "g").collect()[0]["distinct_est"]
    est_w = hll_estimate(hll_build(df, "k", "g"), "g").collect()[0]["distinct_est"]
    # dense mode: the union gadget's representation differs from a direct
    # sketch, so estimates agree to RSE, not bit-for-bit (measured: 3008 vs
    # 3006 at lgk=12) — both must sit inside the error band around truth
    rse = 1.04 / (2 ** 12) ** 0.5
    assert abs(est_m - 3000) <= 3 * rse * 3000
    assert abs(est_w - 3000) <= 3 * rse * 3000

    # sparse/exact regime: merge IS exact, including the overlap dedup
    sa = spark.createDataFrame([("g", f"x{i}") for i in range(40)], ["g", "k"])
    sb = spark.createDataFrame([("g", f"x{i}") for i in range(25, 60)], ["g", "k"])
    m = hll_merge(hll_build(sa, "k", "g"), hll_build(sb, "k", "g"), "g")
    assert hll_estimate(m, "g").collect()[0]["distinct_est"] == 60


def test_hll_overlap_estimate_sparse_exact_and_disjoint_groups(spark):
    """Inclusion-exclusion overlap: exact in the sparse regime (|A∩B|=15),
    zero for disjoint sets, and one-sided groups report overlap 0 instead
    of dropping; the ungrouped path cross-joins two 1-row frames."""
    from sat_val_framework_spark.functions.sketch import hll_build, hll_overlap_estimate

    a = spark.createDataFrame(
        [("g1", f"x{i}") for i in range(40)]          # g1: x0..x39
        + [("g2", f"y{i}") for i in range(20)]        # g2: y0..y19
        + [("only_a", f"z{i}") for i in range(7)],
        ["g", "k"],
    )
    b = spark.createDataFrame(
        [("g1", f"x{i}") for i in range(25, 60)]      # g1 overlap: x25..x39 = 15
        + [("g2", f"w{i}") for i in range(30)]        # g2: disjoint
        + [("only_b", f"q{i}") for i in range(9)],
        ["g", "k"],
    )
    out = {r["g"]: r for r in hll_overlap_estimate(
        hll_build(a, "k", "g"), hll_build(b, "k", "g"), "g").collect()}
    assert out["g1"]["overlap_est"] == 15
    assert (out["g1"]["est_a"], out["g1"]["est_b"], out["g1"]["est_union"]) == (40, 35, 60)
    assert out["g2"]["overlap_est"] == 0
    assert out["only_a"]["overlap_est"] == 0 and out["only_a"]["est_b"] == 0
    assert out["only_b"]["overlap_est"] == 0 and out["only_b"]["est_a"] == 0

    glob = hll_overlap_estimate(hll_build(a, "k"), hll_build(b, "k")).collect()[0]
    assert glob["overlap_est"] == 15  # only g1's xs are shared corpus-wide
