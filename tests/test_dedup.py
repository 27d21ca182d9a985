"""Dedup operators: exact, Jaccard, MinHash-LSH, SimHash — small seeded
corpora with known duplicate structure."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark.functions import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
        (4, "pack my box with five dozen liquor jugs"),
        (5, "sphinx of black quartz judge my vow"),
        (6, "completely different words entirely unrelated content here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(corpus):
    groups = dedup.exact_duplicates(corpus).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2
    assert groups[0]["doc_ids"] == [1, 2]


def test_jaccard_pairs_finds_near_dup(corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(corpus, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (2, 3) in pairs
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in pairs)


def test_jaccard_matches_python_oracle(corpus):
    rows = {r["doc_id"]: r["text"] for r in corpus.collect()}

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(corpus, threshold=0.0).collect()}
    import itertools

    for a, b in itertools.combinations(sorted(rows), 2):
        inter = sh(rows[a]) & sh(rows[b])
        if not inter:
            assert (a, b) not in got  # join on shared shingles: no pair row
            continue
        expected = round(len(inter) / len(sh(rows[a]) | sh(rows[b])), 6)
        assert got[(a, b)] == expected, (a, b)


def test_minhash_identical_docs_identical_sigs(corpus):
    sigs = {r["doc_id"]: r["minhash"] for r in dedup.minhash_signature(corpus).collect()}
    assert sigs[1] == sigs[2]
    # near-dup shares most of the signature; unrelated docs share little
    share_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    share_16 = sum(a == b for a, b in zip(sigs[1], sigs[6]))
    assert share_13 > share_16


def test_lsh_catches_exact_and_near_dups(corpus):
    sigs = dedup.minhash_signature(corpus)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    # no candidates among completely unrelated docs
    assert not any({4, 5, 6} & {a, b} for a, b in pairs if (a, b) != (1, 2) and (a, b) != (1, 3) and (a, b) != (2, 3))


def test_simhash_properties(corpus):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(corpus).collect()}
    assert all(len(v) == 16 and set(v) <= {"0", "1"} for v in sh.values())
    assert sh[1] == sh[2]
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sh[1], sh[3]) <= ham(sh[1], sh[6]) + 2  # near-dup no farther than unrelated (slack for 16 bits)


def test_deterministic_across_partitionings(spark, corpus):
    one = dedup.minhash_signature(corpus.coalesce(1)).collect()
    many = dedup.minhash_signature(corpus.repartition(8)).collect()
    assert {r["doc_id"]: r["minhash"] for r in one} == {r["doc_id"]: r["minhash"] for r in many}


def test_jaccard_on_pairs_matches_allpairs_on_candidates(corpus):
    """LSH->verify composition: exact Jaccard over LSH candidates equals the
    all-pairs jaccard_pairs restricted to the same candidate set."""
    sigs = dedup.minhash_signature(corpus, k=12)
    cands = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_on_pairs(cands, corpus, threshold=0.0).collect()
    }
    cand_set = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    allpairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(corpus, threshold=0.0).collect()
    }
    expected = {p: j for p, j in allpairs.items() if p in cand_set}
    assert got == expected
    # the composition catches the exact and near duplicates
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.5


def test_jaccard_on_pairs_threshold_filters(corpus):
    sigs = dedup.minhash_signature(corpus, k=12)
    cands = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3)
    rows = dedup.jaccard_on_pairs(cands, corpus, threshold=0.99).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}


def _py_simhash64(text: str) -> str:
    """Independent python oracle for simhash_bits."""
    import hashlib

    toks = text.split()
    votes = [0] * 64
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(64):
            if (int(h[j // 4], 16) >> (3 - j % 4)) & 1:
                votes[j] += 1
    return "".join("1" if v * 2 >= len(toks) else "0" for v in votes)


def test_simhash_bits_matches_python_oracle(corpus):
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_bits(corpus).collect()}
    for r in corpus.collect():
        assert got[r["doc_id"]] == _py_simhash64(r["text"]), r["doc_id"]


def test_simhash_near_dup_pigeonhole_recall(corpus):
    """The chunk-LSH recall guarantee is exact, not probabilistic: EVERY pair
    within hamming <= d (d < n_chunks) must be found. Brute-force all pairs
    through the python signature oracle and compare."""
    sigs = {r["doc_id"]: _py_simhash64(r["text"]) for r in corpus.collect()}
    ids = sorted(sigs)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if ham <= 3:
                expected[(a, b)] = ham
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dup(corpus, max_hamming=3).collect()
    }
    assert got == expected
    # the exact-dup pair must be among them at distance 0
    assert got[(1, 2)] == 0


def test_simhash_near_dup_rejects_invalid_params(corpus):
    with pytest.raises(ValueError):
        dedup.simhash_near_dup(corpus, max_hamming=4, n_chunks=4)
    # the packed 64-bit signature splits only into whole chunks that lie
    # inside one 32-bit half
    for n_chunks in (1, 3, 5):
        with pytest.raises(ValueError, match="n_chunks"):
            dedup.simhash_near_dup(corpus, max_hamming=0, n_chunks=n_chunks)
        with pytest.raises(ValueError, match="n_chunks"):
            dedup.simhash_oversized_chunks(corpus, n_chunks=n_chunks)


def test_simhash_bits_tokenless_docs_get_null_sig(spark):
    df = spark.createDataFrame(
        [(1, "real words here"), (2, ""), (3, None)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_bits(df).collect()}
    assert got[1] is not None and len(got[1]) == 64
    assert got[2] is None and got[3] is None
    # and token-less docs never appear in near-dup pairs
    pairs = dedup.simhash_near_dup(df, max_hamming=3).collect()
    assert not any(2 in (r["doc_a"], r["doc_b"]) or 3 in (r["doc_a"], r["doc_b"]) for r in pairs)


def test_normalized_duplicates_catch_reformatted_copies(spark):
    """Case/punctuation/whitespace variants collapse to one digest group;
    genuinely different texts (and NULLs as their own group) do not."""
    rows = [
        (1, "The quick brown fox!"),
        (2, "the  quick   BROWN fox"),     # reformatted copy of 1
        (3, "the quick, brown... FOX"),    # another variant of 1
        (4, "a different document"),
        (5, None),
        (6, None),                          # NULL group: counted, harmless
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {tuple(r["doc_ids"]): r["n_docs"] for r in dedup.normalized_duplicates(df).collect()}
    assert got == {(1, 2, 3): 3, (5, 6): 2}
    # exact dedup sees none of the reformatted copies
    assert dedup.exact_duplicates(df.where("text is not null")).count() == 0


def test_cross_contamination_finds_only_cross_pairs(spark):
    """Contamination = near-dups ACROSS corpora: the eval doc copied from
    train is found; within-corpus dups are NOT reported; ids survive the
    prefix round-trip."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),  # within-train dup
            (3, "pack my box with five dozen liquor jugs right now"),
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),  # leaked!
            (11, "sphinx of black quartz judge my vow today friends"),
        ],
        ["doc_id", "text"],
    )
    got = {(r["a_id"], r["b_id"]): r["jaccard"]
           for r in dedup.cross_contamination(train, evalset, threshold=0.5).collect()}
    assert set(got) == {("1", "10"), ("2", "10")}
    assert all(j == 1.0 for j in got.values())


def test_cross_contamination_ignores_tokenless_docs(spark):
    """Empty/NULL/whitespace docs must not pair up: the shingle sentinel
    would give them all identical signatures -> a quadratic clique of
    jaccard-1.0 false positives. They can't leak content, so they are
    dropped before signing."""
    train = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "real shared sentence of training text")],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [(10, ""), (11, None), (12, "real shared sentence of training text")],
        ["doc_id", "text"],
    )
    got = {(r["a_id"], r["b_id"]) for r in
           dedup.cross_contamination(train, evalset, threshold=0.5).collect()}
    assert got == {("4", "12")}  # only the genuine leak; no empty-empty pairs


def test_dedup_clusters_warns_on_truncated_convergence(spark):
    """ADVICE r3: a component whose diameter exceeds max_iterations must not
    be SILENTLY split into several cluster_ids — the loop warns."""
    import warnings

    from sat_val_framework_spark.functions.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(8)], ["doc_a", "doc_b"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        split = dedup_clusters(chain, max_iterations=1)
        split.collect()
        assert any("did not converge" in str(x.message) for x in w)
    # converged run: one cluster, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ok = dedup_clusters(chain, max_iterations=20)
        assert {r["cluster_id"] for r in ok.collect()} == {"d00"}
        assert not any("did not converge" in str(x.message) for x in w)


def _boilerplate_corpus(spark):
    """40 genuinely distinct docs + 5 seeded near-dups of docs 0-4 + a
    30-doc boilerplate family (identical text) — the degenerate bucket
    shape VERDICT r3 flags as the remaining 100-TB scale-killer."""

    def words(i):
        return " ".join(f"w{(i * 97 + j * 31 + i * j) % 5000}" for j in range(40))

    rows = (
        [(i, words(i)) for i in range(40)]
        + [(1000 + i, words(i) + " extra") for i in range(5)]
        + [(100 + i, "error page not found please try again later contact support") for i in range(30)]
    )
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _is_family(x):
    return 100 <= x < 1000


def test_lsh_bucket_cap_bounds_boilerplate_family(spark):
    """Capped LSH: candidate count is linear (not quadratic) in the family,
    non-degenerate pairs are IDENTICAL to the uncapped run, seeded
    near-dups survive, and the audit frame reports the degraded buckets."""
    from sat_val_framework_spark.functions.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        lsh_oversized_buckets,
        minhash_signature,
    )

    docs = _boilerplate_corpus(spark)
    sigs = minhash_signature(docs, k=12)
    unc = lsh_candidate_pairs(sigs, 4, 3).collect()
    cap = lsh_candidate_pairs(sigs, 4, 3, max_bucket_size=10, oversize="star").collect()
    # family contributes 29 star pairs (hub=100), not C(30,2)=435
    fam_pairs = [(r.doc_a, r.doc_b) for r in cap if _is_family(r.doc_a)]
    assert len(fam_pairs) == 29 and {a for a, _ in fam_pairs} == {100}
    assert len(cap) < len(unc)
    # verdicts on the non-degenerate corpus identical (VERDICT r3 done-bar)
    nd = lambda rows: {  # noqa: E731
        (r.doc_a, r.doc_b) for r in rows if not (_is_family(r.doc_a) or _is_family(r.doc_b))
    }
    assert nd(cap) == nd(unc)
    assert all((i, 1000 + i) in nd(cap) for i in range(5))
    # star keeps the family one component: clusters match the uncapped run
    clu_u = {(r.doc_id, r.cluster_id) for r in dedup_clusters(
        lsh_candidate_pairs(sigs, 4, 3)).collect()}
    clu_c = {(r.doc_id, r.cluster_id) for r in dedup_clusters(
        lsh_candidate_pairs(sigs, 4, 3, max_bucket_size=10)).collect()}
    assert clu_u == clu_c
    # no silent caps: audit frame names the oversized buckets
    audit = lsh_oversized_buckets(sigs, 4, 3, max_bucket_size=10).collect()
    assert audit and all(r.bucket_size >= 30 for r in audit)
    # drop mode removes the family entirely, keeps everything else
    drop = lsh_candidate_pairs(sigs, 4, 3, max_bucket_size=10, oversize="drop").collect()
    assert nd(drop) == nd(unc)
    assert not [r for r in drop if _is_family(r.doc_a) or _is_family(r.doc_b)]


def test_simhash_bucket_cap_bounds_boilerplate_family(spark):
    from sat_val_framework_spark.functions.dedup import (
        simhash_near_dup,
        simhash_oversized_chunks,
    )

    docs = _boilerplate_corpus(spark)
    unc = simhash_near_dup(docs, max_hamming=3).collect()
    cap = simhash_near_dup(docs, max_hamming=3, max_bucket_size=10).collect()
    fam_pairs = [(r.doc_a, r.doc_b) for r in cap if _is_family(r.doc_a)]
    # identical signatures -> hamming 0 through the hub: star recall exact
    assert len(fam_pairs) == 29 and {a for a, _ in fam_pairs} == {100}
    nd = lambda rows: {  # noqa: E731
        (r.doc_a, r.doc_b) for r in rows if not (_is_family(r.doc_a) or _is_family(r.doc_b))
    }
    assert nd(cap) == nd(unc)
    # the audit names exactly the 16-bit chunk buckets over the cap: a
    # brute-force count over the python signature oracle
    counts = {}
    for r in docs.collect():
        sig = _py_simhash64(r.text)
        for j in range(4):
            key = (j, int(sig[16 * j : 16 * j + 16], 2))
            counts[key] = counts.get(key, 0) + 1
    expected = {(j, k, n) for (j, k), n in counts.items() if n > 10}
    audit = {
        (r.chunk_id, r.chunk_key, r.bucket_size)
        for r in simhash_oversized_chunks(docs, max_bucket_size=10).collect()
    }
    assert audit == expected and len(expected) >= 4


def test_embedding_bucket_cap(spark):
    from sat_val_framework_spark.functions.similarity import (
        embedding_near_dup_pairs,
        embedding_oversized_buckets,
    )

    rows = [
        (i, [float((i * 13 + j * 7) % 11 - 5) for j in range(16)]) for i in range(20)
    ] + [(100 + i, [1.0] * 16) for i in range(25)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    unc = embedding_near_dup_pairs(emb, threshold=0.4, n_bits=8, bands=2).collect()
    cap = embedding_near_dup_pairs(
        emb, threshold=0.4, n_bits=8, bands=2, max_bucket_size=10
    ).collect()
    fam = [(r.vec_a, r.vec_b) for r in cap if r.vec_a >= 100]
    assert len(fam) == 24 and {a for a, _ in fam} == {100}  # identical vecs: all cos 1.0
    nd = lambda rows: {  # noqa: E731
        (r.vec_a, r.vec_b, r.cos_sim) for r in rows if r.vec_a < 100 and r.vec_b < 100
    }
    assert nd(cap) == nd(unc)
    assert embedding_oversized_buckets(emb, max_bucket_size=10).count() >= 1


def test_contamination_bucket_cap_keeps_cross_pairs(spark):
    """Capped contamination: a boilerplate family spanning both corpora —
    b-side members still surface via the a-side hub (min prefixed id)."""
    from sat_val_framework_spark.functions.dedup import cross_contamination

    def words(i):
        return " ".join(f"w{(i * 89 + j * 37) % 4000}" for j in range(40))

    boiler = "cookie banner accept all reject all manage preferences"
    a = spark.createDataFrame(
        [(i, words(i)) for i in range(10)] + [(50 + i, boiler) for i in range(15)],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(i, words(i + 500)) for i in range(10)]
        + [(80 + i, boiler) for i in range(15)]
        + [(99, words(3))],  # true cross-corpus leak of a's doc 3
        ["doc_id", "text"],
    )
    unc = cross_contamination(a, b, threshold=0.5, k=12, bands=4, rows_per_band=3)
    cap = cross_contamination(
        a, b, threshold=0.5, k=12, bands=4, rows_per_band=3, max_bucket_size=8
    )
    got_u = {(r.a_id, r.b_id) for r in unc.collect()}
    got_c = {(r.a_id, r.b_id) for r in cap.collect()}
    assert ("3", "99") in got_c  # non-degenerate leak survives the cap
    # every b-side boilerplate member still flagged (via the a-side hub)
    assert {bid for _, bid in got_c if bid != "99"} == {str(80 + i) for i in range(15)}
    # capped output is a bounded subset of the uncapped quadratic one
    assert got_c <= got_u and len(got_c) < len(got_u)


def test_ngram_decontamination(spark):
    """Exact n-gram decontamination: a doc quoting a verbatim n-gram from
    the reference set is flagged; paraphrases are not."""
    from sat_val_framework_spark.functions.dedup import ngram_hits

    ref = spark.createDataFrame(
        [("e1", "the capital of france is paris and it is on the seine")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            ("d1", "trivia time the capital of france is paris everyone knows"),  # 5-gram quote
            ("d2", "paris france capital seine river"),  # same words, no 5-gram run
            ("d3", "completely unrelated text about gardening and soil quality"),
        ],
        ["doc_id", "text"],
    )
    hits = {r["doc_id"]: r for r in ngram_hits(docs, ref, n=5).collect()}
    # only the quote is flagged: its 5-gram run "the capital of france is
    # paris" yields two shared 5-grams, the first in sort order reported
    assert set(hits) == {"d1"}
    assert hits["d1"]["n_hits"] == 2
    assert hits["d1"]["first_gram"] == "capital of france is paris"
    # short verbatim ref doc (< n tokens) still matches its whole-text gram
    short_ref = spark.createDataFrame([("e2", "exact short quote")], ["doc_id", "text"])
    d4 = spark.createDataFrame([("d4", "exact short quote"), ("d5", "another doc")], ["doc_id", "text"])
    assert {r["doc_id"] for r in ngram_hits(d4, short_ref, n=13).collect()} == {"d4"}


def test_ngram_hits_ignores_token_less_docs(spark):
    """Review r4: one empty reference row must not flag every empty
    training doc via the shared '' sentinel gram."""
    from sat_val_framework_spark.functions.dedup import ngram_hits

    ref = spark.createDataFrame([("e1", ""), ("e2", "real reference text here")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [("d1", ""), ("d2", "   "), ("d3", None), ("d4", "real reference text here now")],
        "doc_id string, text string",
    )
    got = {r["doc_id"] for r in ngram_hits(docs, ref, n=4).collect()}
    assert got == {"d4"}


def test_dedup_clusters_logarithmic_rounds_on_long_chain(spark):
    """VERDICT r4 #5: pointer doubling makes an adversarial 100-node path
    converge in O(log d) rounds — ceil(log2(100)) = 7 plus a small
    constant, not the 99 rounds plain min-label propagation needs."""
    from sat_val_framework_spark.functions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(99)], ["doc_a", "doc_b"]
    )
    stats = {}
    out = dedup_clusters(pairs, stats=stats)
    labs = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert set(labs.values()) == {"n000"} and len(labs) == 100
    assert stats["rounds"] <= 7 + 3, stats
    # the shallow common case still exits immediately
    shallow = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")], ["doc_a", "doc_b"])
    s2 = {}
    got = {(r["doc_id"], r["cluster_id"]) for r in dedup_clusters(shallow, stats=s2).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    assert s2["rounds"] <= 3


def test_minhash_arrow_kernel_matches_jvm_expressions(spark):
    """r6 optimization guard: the Arrow minhash kernel must equal the
    original JVM expression formulation (explode -> md5 -> conv -> k min
    aggs) on adversarial input: duplicate doc_ids (signatures must merge),
    unicode whitespace (Java \\s is ASCII-only — NBSP is NOT a separator),
    tabs/newlines, empty and NULL text, and docs shorter than the shingle
    width."""
    from pyspark.sql import functions as F

    from sat_val_framework_spark.functions.dedup import (
        _M32,
        _MINHASH_A,
        _MINHASH_B,
        minhash_signature,
        shingles_col,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (1, "epsilon zeta eta"),  # duplicate id: shingles must merge
        (2, "alpha\tbeta\ngamma"),
        (3, "nb sp stays one token"),
        (4, ""),
        (5, None),
        (6, "short"),
        (7, "  leading and trailing  "),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: list(r["minhash"]) for r in minhash_signature(d, k=12).collect()}
    h32 = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long") % _M32
    ref_rows = d.select(
        "doc_id", F.explode(shingles_col(F.col("text"), 3)).alias("shingle")
    ).select("doc_id", h32.alias("h32"))
    mins = [
        F.min((F.lit(_MINHASH_A[i]) * F.col("h32") + F.lit(_MINHASH_B[i])) % _M32).alias(f"m{i}")
        for i in range(12)
    ]
    ref = {
        r["doc_id"]: [r[f"m{i}"] for i in range(12)]
        for r in ref_rows.groupBy("doc_id").agg(*mins).collect()
    }
    assert got == ref
