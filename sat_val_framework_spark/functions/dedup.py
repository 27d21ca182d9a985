"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each variant at 100 TB):

- **exact**: hash-groupBy on a content digest. One shuffle on the digest;
  partial aggregation collapses per-split duplicates map-side.
- **n-gram Jaccard**: exact pairwise similarity via a self-join on shared
  shingles. Quadratic in the worst case — correct but only for candidate
  verification or small corpora; LSH is the scale path that feeds it.
- **MinHash+LSH**: signature = per-salt min over shingle hashes (k
  independent permutations approximated by salted md5). Banding turns
  near-dup search into an equi-join on (band_id, band_key): docs agreeing
  on any band land in the same bucket. Join is on a high-cardinality key
  -> well-distributed shuffle; no pairwise blowup.
- **SimHash**: token-hash bit votes, weighted by token frequency — a
  16-bit profile signature (``simhash16``) and the 64-bit near-dup
  signature, kept as two packed longs; hamming-adjacent docs are
  near-dups of a different flavor than MinHash finds.

md5 is the one content hash: deterministic, seed-free, and the only hash
that Spark and ANSI SQL both compute bit for bit, so every signature here
is checked value for value against its DuckDB oracle twin. Integer hashes
are ``text.hex60`` of the digest. A second hash would be a second
signature path that no oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.functions.text import hex60, tokens_col

HEX_HIGH = "89abcdef"  # md5 hex chars whose high bit is set


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-digest groups with more than one member."""
    d = docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest"))
    return (
        d.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (duplicates preserved)."""
    toks = tokens_col(text)
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda j: F.concat_ws(" ", F.slice(toks, j, n)),
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via self-join on shared shingles.

    |A ∩ B| from the join, |A ∪ B| = |A|+|B|-|A∩B| (distinct shingles).
    """
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(shingles_col(F.col(text_col), n))).alias("shingle"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_on_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_docs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard evaluated ONLY on given candidate pairs
    (doc_a, doc_b) — the verify stage of the LSH->verify composition.

    Scale shape: no self-join on shingles (the quadratic hot-shingle shape
    of ``jaccard_pairs``). Instead the candidate pairs are joined to each
    side's exploded distinct shingles by (doc, shingle) equi-keys:
    cost is O(|candidates| x shingles_per_doc), shuffle keys are
    high-cardinality (doc_b, shingle) — well distributed at any corpus size.

    ``prune_docs`` (r6, guide §8 "decide with small rows"): semi-join
    ``docs`` down to the ids that actually appear in ``candidates`` BEFORE
    tokenizing/shingling, so the two shingle explodes run over candidate
    docs only instead of the whole corpus (results unchanged — the pair
    joins never matched non-candidate docs anyway). Only worth it when
    ``candidates`` is already materialized (localCheckpoint/persisted/
    written): the id scan is a SECOND consumer of the candidate subtree,
    and an unmaterialized one would re-run the whole LSH pipeline.
    """
    if prune_docs:
        cand_ids = (
            candidates.select(F.col("doc_a").alias(id_col))
            .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        docs = docs.join(cand_ids, id_col, "left_semi")
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles_col(F.col(text_col), n))).alias("shingle"),
    )
    # |A| per doc is the SIZE of its distinct-shingle array — a per-row
    # projection, identical to counting the exploded rows (the shingle
    # floor gives every doc >= 1 element, so no doc goes missing) but
    # without re-deriving + re-exploding + re-aggregating the whole
    # shingle frame a third time (r6, guide §1.2)
    sizes = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.array_distinct(shingles_col(F.col(text_col), n))).alias("n_shingles"),
    )
    cand = candidates.select("doc_a", "doc_b")
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])  # matches only: |A ∩ B| per pair
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# affine-permutation constants for k-permutation MinHash: A_i < 2^31 and
# h32 < 2^32 keep A_i*h32 + B_i inside int64 in Spark AND DuckDB (the
# oracle twin errors on int64 overflow instead of wrapping)
_M32 = 4_294_967_296
_MINHASH_A = [(2_654_435_761 * (2 * i + 1)) % 2_147_483_647 for i in range(64)]
_MINHASH_B = [(40_503 * (i + 1)) % 65_536 for i in range(64)]


def _minhash_rows_arrow(
    docs: DataFrame, k: int, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, m0..m{k-1}): per-ROW partial MinHash mins via one
    mapInPandas kernel — tokenize, shingle, md5 and the k affine
    permutations all happen on a whole Arrow batch inside the Python
    worker, replacing the explode -> md5 -> conv projection whose
    per-shingle expression work measured ~28 core-seconds at sf1.0
    (guide §4.2: let Spark distribute, do the bulk work in native code).

    Exactness contract (tested against the JVM-expression path in
    tests/test_dedup.py, including duplicate ids + unicode whitespace):
    - tokens: Java ``\\s`` is ASCII-only => ``re.split(r'\\s+', s,
      flags=re.ASCII)`` + drop empties == split+filter in tokens_col
      (F.trim only strips spaces, which the empty-token filter already
      handles, so trim needs no Python twin);
    - shingles: ``" ".join(toks[j:j+n])`` for j in range(max(len-n+1, 1))
      == concat_ws over slice() including the short-doc floor ([''] for
      token-less docs);
    - h32: ``int.from_bytes(digest[:8], 'big') >> 4`` is the digest's top
      60 bits, so ``& 0xFFFFFFFF`` == ``text.hex60(md5(shingle)) % 2^32``
      in exact integer math;
    - (A*h + B) % 2^32 in uint64 cannot overflow (A < 2^31, h < 2^32).
    """
    import re

    a_const = _MINHASH_A[:k]
    b_const = _MINHASH_B[:k]
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"doc_id {id_type}, " + ", ".join(f"m{i} long" for i in range(k))

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        an = np.array(a_const, dtype=np.uint64)
        bn = np.array(b_const, dtype=np.uint64)
        m32 = np.uint64(_M32)
        for pdf in batches:
            ids = pdf[id_col]
            out = np.empty((len(pdf), k), dtype=np.int64)
            for row, text in enumerate(pdf[text_col]):
                toks = [w for w in ws.split(text)] if text is not None else []
                toks = [w for w in toks if w]
                cnt = max(len(toks) - (n - 1), 1)
                grams = {" ".join(toks[j : j + n]) for j in range(cnt)}
                hs = np.fromiter(
                    (
                        (int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big") >> 4)
                        & 0xFFFFFFFF
                        for g in grams
                    ),
                    dtype=np.uint64,
                    count=len(grams),
                )
                out[row] = ((an[:, None] * hs[None, :] + bn[:, None]) % m32).min(
                    axis=1
                ).astype(np.int64)
            res = pd.DataFrame({"doc_id": ids.reset_index(drop=True)})
            for i in range(k):
                res[f"m{i}"] = out[:, i]
            yield res

    return docs.select(id_col, text_col).mapInPandas(kernel, out_schema)


def minhash_signature(
    docs: DataFrame,
    k: int = 12,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """k-permutation MinHash: sig[i] = min over shingles of an affine
    permutation of the shingle's 32-bit content hash.

    Plan shape: per-row partial mins from one Arrow kernel
    (``_minhash_rows_arrow`` — r6; previously an explode -> hash-once
    projection, whose per-shingle expression interpretation dominated the
    LSH queries), then ONE hash-aggregate with k cheap integer ``min``
    aggregates merging rows that share an id (min-of-mins == min over the
    merged shingle multiset, so duplicate-id semantics are unchanged).
    Partial aggregation means only k ints per doc cross the shuffle.
    """
    rows = _minhash_rows_arrow(docs, k, n, text_col, id_col)
    mins = [F.min(F.col(f"m{i}")).alias(f"m{i}") for i in range(k)]
    agg = rows.groupBy("doc_id").agg(*mins)
    return agg.select("doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("minhash"))


def banded_signatures(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """(doc_id, band_id, band_key) rows: one bucket membership per band."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col("minhash")[b * rows_per_band + r] for r in range(rows_per_band)]
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def capped_bucket_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    oversize: str = "star",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Self-join ``keyed`` on its bucket key with a bucket-size guard — the
    shared candidate generator behind every LSH family (MinHash bands,
    SimHash chunks, sign-LSH).

    Why: web corpora always contain a template family (error pages,
    boilerplate) that exact dedup can't remove but which lands in ONE
    bucket — an uncapped self-join emits O(n²) pairs from that bucket and
    is the one shape that kills the plan at 10^12 docs (VERDICT r3). With
    ``max_bucket_size`` set, buckets at or under the cap do the normal
    all-pairs join; oversized buckets degrade per ``oversize``:

    - ``'star'`` (default): every member pairs with the bucket's MINIMUM
      id only — O(bucket) pairs that keep the family CONNECTED, so
      cluster-based dedup (dedup_clusters -> keep_one_per_cluster) still
      collapses a homogeneous boilerplate family to one keeper. Pair-level
      recall inside the oversized bucket degrades to the star (members
      pair via the hub, not directly).
    - ``'drop'``: the bucket contributes nothing.

    Neither mode is silent: ``oversized_buckets`` on the same keyed frame
    returns exactly the affected buckets with sizes — pipelines persist or
    log that audit frame alongside the pairs (no-silent-caps rule).

    ``carry_cols`` are carried onto both sides of the output (``<c>_a`` /
    ``<c>_b``) so verify stages (hamming, cosine) need no join-back.
    """
    carry = carry_cols or []
    out_a = [F.col(f"a.{id_col}").alias("doc_a")] + [
        F.col(f"a.{c}").alias(f"{c}_a") for c in carry
    ]
    out_b = [F.col(f"b.{id_col}").alias("doc_b")] + [
        F.col(f"b.{c}").alias(f"{c}_b") for c in carry
    ]
    if max_bucket_size is None:
        a, b = keyed.alias("a"), keyed.alias("b")
        cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        for k in key_cols:
            cond &= F.col(f"a.{k}") == F.col(f"b.{k}")
        return a.join(b, cond).select(*out_a, *out_b).distinct()
    if oversize not in ("star", "drop"):
        raise ValueError(f"unknown oversize mode '{oversize}'")
    # oversized buckets are FEW by nature (that is what skew means — if a
    # large fraction of buckets were oversized the candidate set would be
    # quadratic regardless), so aggregate them into a tiny (key, hub) frame
    # and BROADCAST it back: the small side rides the same plan as the
    # uncapped join plus one cheap broadcast probe per side, no windows —
    # the window formulation measured 8 exchanges vs 3 (plan audit r4)
    over = (
        keyed.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("__bsize"),
            F.min(id_col).alias("__hub"),
            *[F.min_by(c, F.col(id_col)).alias(f"__hub_{c}") for c in carry],
        )
        .filter(F.col("__bsize") > max_bucket_size)
    )
    marked = keyed.join(F.broadcast(over), key_cols, "left")
    small = marked.filter(F.col("__bsize").isNull())
    a, b = small.alias("a"), small.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for k in key_cols:
        cond &= F.col(f"a.{k}") == F.col(f"b.{k}")
    pairs = a.join(b, cond).select(*out_a, *out_b)
    if oversize == "star":
        star = marked.filter(
            F.col("__bsize").isNotNull() & (F.col(id_col) != F.col("__hub"))
        ).select(
            F.col("__hub").alias("doc_a"),
            *[F.col(f"__hub_{c}").alias(f"{c}_a") for c in carry],
            F.col(id_col).alias("doc_b"),
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def oversized_buckets(
    keyed: DataFrame, key_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Audit frame for the cap: buckets whose membership exceeds
    ``max_bucket_size`` — (key_cols..., bucket_size). Rides the same
    banded/chunked frame as the pair join; a pipeline that caps MUST
    surface this (write it next to the pair output) so the degradation is
    queryable, never silent."""
    return (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def minhash_signature_col(text: Column, k: int = 12, n: int = 3) -> Column:
    """Per-ROW MinHash signature as an array<long> column — the streaming
    twin of ``minhash_signature`` (identical values; tested). Streaming
    needs it because a groupBy signature aggregate upstream of a stateful
    operator would chain two stateful stages; here the whole signature is
    one projection. Shape: hash every shingle ONCE in an inner transform
    (one md5 per shingle — the accepted simhash16 shape), then k cheap
    integer-only array_min folds over the hashed array; the expensive
    subtree is never repeated per permutation (the Catalyst no-CSE pitfall
    applies to REPEATED expensive lambdas, not to one hash pass)."""
    hashes = F.transform(shingles_col(text, n), lambda s: hex60(F.md5(s)) % _M32)
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hashes, lambda x: (F.lit(_MINHASH_A[i]) * x + F.lit(_MINHASH_B[i])) % _M32
                )
            )
            for i in range(k)
        ]
    )


def band_keys_col(minhash: Column, bands: int = 4, rows_per_band: int = 3) -> Column:
    """Per-row band keys: array<struct<band_id,band_key>> — the projection
    twin of ``banded_signatures`` for streams (explode it downstream)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", *[minhash[b * rows_per_band + r] for r in range(rows_per_band)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 3,
    max_bucket_size: int | None = None,
    oversize: str = "star",
) -> DataFrame:
    """Band the signature and equi-join on (band_id, band_key): classic
    MinHash-LSH bucketing. Distinct candidate pairs, doc_a < doc_b.

    ``max_bucket_size`` is the skew guard for degenerate buckets (template
    families): see ``capped_bucket_pairs``. Pair with
    ``lsh_oversized_buckets`` for the audit of what degraded."""
    banded = banded_signatures(signatures, bands, rows_per_band)
    return capped_bucket_pairs(
        banded, ["band_id", "band_key"], max_bucket_size, oversize
    )


def incremental_neardup_pairs(
    new_docs: DataFrame,
    store: DataFrame,
    k: int = 12,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    max_bucket_size: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_broadcast: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dedup an ingest batch against a PERSISTED signature index without
    rescanning the corpus text — the batch counterpart of the streaming
    near-dup monitor, and the operating mode a daily incremental ingest
    actually runs at 10^12 docs (re-sigging the whole corpus per batch is
    the shape that doesn't survive scale; the index is O(corpus x bands)
    small rows, read-only here).

    ``store``: (doc_id, band_id, band_key) rows — exactly what
    ``banded_signatures`` emits; the third return value is the batch's own
    banded rows, which the caller appends to the store after the batch
    commits (append-only parquet/Iceberg; the same k/n/bands/rows_per_band
    MUST be used for every batch or keys never match).

    Returns ``(new_vs_old, new_vs_new, banded_new)``:

    - ``new_vs_old`` (doc_new, doc_old): batch band keys equi-joined
      against the store — the small batch side is broadcast/shuffle-hash
      joined against the big index, never the reverse. With
      ``max_bucket_size``, oversized STORE buckets (template families
      accumulated over many batches) are pruned to their hub (minimum
      doc_id) before the join — each new doc pairs with the family's hub
      only, O(batch) pairs instead of O(batch x family); cluster-based
      keeper selection still collapses the family through the hub. Audit
      the degradation with ``oversized_buckets(store, ["band_id",
      "band_key"], cap)`` next to the output (no-silent-caps rule).
    - ``new_vs_new`` (doc_a < doc_b): within-batch candidates via the
      same capped self-join as ``lsh_candidate_pairs``.
    - re-ingest of an already-stored doc_id pairs with other docs but
      never with itself (doc_new != doc_old).

    ``batch_broadcast`` (default True) broadcasts the batch's banded rows
    into the store join EXPLICITLY — the batch side comes out of an
    aggregate, so Catalyst has no size stats and would otherwise plan an
    SMJ that re-shuffles the corpus-sized index every batch (the
    uniqueness operator's lesson, plan-asserted there). Set False for a
    batch too large to broadcast (bands x batch rows): one store shuffle
    is then the honest cost — or chunk the batch.

    Caveat for ``max_bucket_size`` at 10^12 stored rows: the bucket-size
    aggregate scans the WHOLE store per batch (map-side combine makes it
    one shuffle of distinct buckets, but the scan is corpus-sized). A
    production deployment maintains the pruned index (small buckets +
    hubs) incrementally alongside the raw one and passes it as ``store``
    with ``max_bucket_size=None`` instead of re-deriving it per batch.
    """
    sigs = minhash_signature(new_docs, k, n, text_col, id_col)
    banded_new = banded_signatures(sigs, bands, rows_per_band)
    store_idx = store.select("doc_id", "band_id", "band_key")
    if max_bucket_size is not None:
        sizes = store_idx.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("__sz"), F.min("doc_id").alias("__hub")
        )
        small = store_idx.join(
            sizes.filter(F.col("__sz") <= max_bucket_size).select("band_id", "band_key"),
            ["band_id", "band_key"],
            "left_semi",
        )
        hubs = sizes.filter(F.col("__sz") > max_bucket_size).select(
            F.col("__hub").alias("doc_id"), "band_id", "band_key"
        )
        store_idx = small.unionByName(hubs)
    probe = F.broadcast(banded_new) if batch_broadcast else banded_new
    new_vs_old = (
        probe.alias("n")
        .join(store_idx.alias("o"), ["band_id", "band_key"])
        .filter(F.col("n.doc_id") != F.col("o.doc_id"))
        .select(
            F.col("n.doc_id").alias("doc_new"), F.col("o.doc_id").alias("doc_old")
        )
        .distinct()
    )
    new_vs_new = capped_bucket_pairs(
        banded_new, ["band_id", "band_key"], max_bucket_size
    )
    return new_vs_old, new_vs_new, banded_new


def lsh_oversized_buckets(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(band_id, band_key, bucket_size) for every band bucket over the cap —
    the no-silent-caps audit twin of ``lsh_candidate_pairs``."""
    return oversized_buckets(
        banded_signatures(signatures, bands, rows_per_band),
        ["band_id", "band_key"],
        max_bucket_size,
    )


def _simhash64_longs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, hi, lo): the 64-bit SimHash packed as two longs in
    [0, 2^32). Token bit j is bit j of the token's md5 read big-endian
    (the high bit of hex digit j//4 first); signature bit j is 1 when
    votes for it are at least half the doc's tokens, counted with
    multiplicity, and is stored as bit (31-j) of ``hi`` for j < 32, bit
    (63-j) of ``lo`` otherwise.

    Plan shape (r6): explode -> md5 once per token -> ONE hash-agg with
    64 cheap sums. The 64 bit tests read TWO
    integers per token via ``bit_get`` (``hex60`` of the digest for bits
    0-59, hex digit 16 for bits 60-63), partial aggregation ships only 64
    ints per doc across the shuffle, and every downstream stage (chunk
    keys, XOR popcount verify, the candidate distinct) moves 2 longs, not
    a 64-char string. Token-less docs are simply ABSENT (a NULL key never
    equi-joins, so the pair output needs no row for them); callers that
    need the NULL row use ``simhash_bits``."""
    # the equivalent 64-wide array fold compiled to multi-MB codegen; the
    # explode + agg keeps the expression tree small
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("tok")
    )
    src = toks.select("doc_id", F.md5("tok").alias("h")).select(
        "doc_id",
        # md5 hex digits 1-15 -> sig bits 0..59 (bit j = bit 59-j of w1)
        hex60(F.col("h")).alias("w1"),
        F.conv(F.substring("h", 16, 1), 16, 10).cast("long").alias("w2"),
    )
    bit = lambda j: (  # noqa: E731
        F.bit_get("w1", F.lit(59 - j)) if j < 60 else F.bit_get("w2", F.lit(63 - j))
    )
    aggs = [F.count(F.lit(1)).alias("n_tok")] + [
        F.sum(bit(j)).alias(f"v{j}") for j in range(64)
    ]
    votes = src.groupBy("doc_id").agg(*aggs)

    def half(lo_bit: int, hi_bit: int) -> Column:
        e = F.lit(0).cast("long")
        for j in range(lo_bit, hi_bit):
            e = e + F.when(
                F.col(f"v{j}") * 2 >= F.col("n_tok"),
                F.lit(1 << (hi_bit - 1 - j)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        return e

    return votes.select("doc_id", half(0, 32).alias("hi"), half(32, 64).alias("lo"))


def simhash_bits(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash): the 64-bit SimHash of ``_simhash64_longs`` as a
    64-char bit string, bit 0 first. Token-less docs (empty/NULL text)
    keep a row with a NULL signature.

    64 bits is what the near-dup pair-finder needs: its 16-bit chunk keys
    give 2^16 bucket values, so bucket sizes stay sub-linear in corpus
    size (``simhash16`` is the compact profile signature; 4-bit chunks of
    it would yield 16 buckets = a quadratic self-join)."""
    sigs = _simhash64_longs(docs, text_col, id_col).select(
        "doc_id",
        F.concat(F.lpad(F.bin("hi"), 32, "0"), F.lpad(F.bin("lo"), 32, "0")).alias("simhash"),
    )
    # left join back so token-less docs keep a NULL signature row instead
    # of vanishing with the explode
    return docs.select(F.col(id_col).alias("doc_id")).join(sigs, "doc_id", "left")


def _simhash64_chunked(
    docs: DataFrame, n_chunks: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, hi, lo, chunk_id, chunk_key): the ``_simhash64_longs``
    signature with one row per chunk — chunk j is signature bits
    [j*w, (j+1)*w) as a w-bit integer key, w = 64/n_chunks. Each chunk
    must lie inside one packed half, so ``n_chunks`` must be 2, 4, 8, 16,
    32 or 64."""
    if n_chunks not in (2, 4, 8, 16, 32, 64):
        raise ValueError(
            f"n_chunks must split 64 bits into whole chunks of at most 32 bits "
            f"(2, 4, 8, 16, 32 or 64), got {n_chunks}"
        )
    sigs = _simhash64_longs(docs, text_col, id_col)
    w = 64 // n_chunks
    mask = F.lit((1 << w) - 1).cast("long")
    chunks = []
    for j in range(n_chunks):
        if (j + 1) * w <= 32:
            val = F.shiftright(F.col("hi"), 32 - (j + 1) * w)
        else:
            val = F.shiftright(F.col("lo"), 64 - (j + 1) * w)
        chunks.append(
            F.struct(
                F.lit(j).alias("chunk_id"), val.bitwiseAND(mask).alias("chunk_key")
            )
        )
    return sigs.select(
        "doc_id", "hi", "lo", F.explode(F.array(*chunks)).alias("c")
    ).select("doc_id", "hi", "lo", "c.chunk_id", "c.chunk_key")


def simhash_near_dup(
    docs: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize: str = "star",
) -> DataFrame:
    """SimHash near-duplicate pairs: LSH candidates -> exact hamming verify.

    Same LSH->verify composition as jaccard_on_pairs / embedding near-dup
    (the A10 matcher contract, /root/reference/sat_val_framework/
    implement.py:140-143, SimHash flavor). The signature is split into
    ``n_chunks`` equal bit-chunks; by pigeonhole, two signatures within
    hamming distance ``max_hamming`` < n_chunks agree EXACTLY on at least
    one chunk — so the equi-join on (chunk_id, chunk_key) has guaranteed
    recall (not probabilistic). Verify = popcount of the XOR. The 64-bit
    signature splits into 2, 4, 8, 16, 32 or 64 chunks.

    Scale shape: chunk keys are (64/n_chunks)-bit integers — 2^16 values
    with the defaults — so the self-join shuffles on a high-cardinality key
    and bucket sizes stay sub-linear; candidates carry their two signature
    longs and are verified with pure JVM bit ops, no second pass over the
    corpus, and the candidate distinct shuffles 4 longs per row.

    ``max_bucket_size`` guards the degenerate case those 2^16 key values
    can't: a boilerplate family whose signatures collide into ONE chunk
    bucket (see ``capped_bucket_pairs``). In 'star' mode the pigeonhole
    guarantee holds UNCHANGED for pairs outside oversized buckets and for
    identical-signature families (hamming 0 through the hub); a pair whose
    only shared chunk lies in an oversized bucket and whose members are
    near the hub's hamming limit can be missed — the explicit, audited
    (``simhash_oversized_chunks``) price of boundedness."""
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole recall needs max_hamming < n_chunks ({max_hamming} >= {n_chunks})"
        )
    chunked = _simhash64_chunked(docs, n_chunks, text_col, id_col)
    cands = capped_bucket_pairs(
        chunked,
        ["chunk_id", "chunk_key"],
        max_bucket_size,
        oversize,
        carry_cols=["hi", "lo"],
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    return (
        cands.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_oversized_chunks(
    docs: DataFrame,
    n_chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(chunk_id, chunk_key, bucket_size) for chunk buckets over the cap —
    the audit twin of a capped ``simhash_near_dup``, over the same integer
    chunk keys its pair join uses."""
    return oversized_buckets(
        _simhash64_chunked(docs, n_chunks, text_col, id_col),
        ["chunk_id", "chunk_key"],
        max_bucket_size,
    )


def dedup_clusters(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b",
                   max_iterations: int = 50,
                   stats: dict | None = None) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id):
    the step a pipeline actually runs on a pair list — group transitively
    connected documents so one keeper per cluster survives. cluster_id is
    the minimum doc_id reachable from the node (canonical, deterministic).

    Algorithm (VERDICT r4 #5): min-label propagation WITH pointer doubling
    — each round every node first takes the min of its own and its
    neighbors' labels (hooking), then shortcuts through its label's label
    (label(u) <- label(label(u)), Shiloach-Vishkin style). Hooking alone
    converges in O(diameter) rounds; the doubling step composes the
    reach of consecutive rounds, so an adversarial long-chain component
    converges in O(log diameter) rounds (a 100-node path takes ~7, not 99
    — asserted in tests) while the shallow near-dup common case still
    exits in 2-3. Labels only ever DECREASE toward the component minimum,
    so the fixpoint — and the recursive-CTE oracle — is unchanged.

    Each round is two equi-joins + a hash-agg on high-cardinality keys —
    no driver-side graph, and ``localCheckpoint`` truncates the lineage so
    round N's plan does not re-execute rounds 1..N-1. The driver loop only
    evaluates a 1-row convergence count per round (metadata, not data). At
    10^12 docs the same loop runs with the label frame persisted to disk;
    the O(log d) round count — not data volume — bounds iterations.

    ``stats``: optional dict; on return, ``stats['rounds']`` records the
    executed round count (convergence-proof material for tests/telemetry).

    Genuinely iterative (not single-query SQL) — the oracle twin uses a
    recursive CTE, which computes the same fixpoint."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("b"), F.col("label").alias("nbr_label")), "b"
            )
            .groupBy("a")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        hooked = labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias(
                "label"
            ),
        ).localCheckpoint(eager=True)  # two consumers below (self-join both
        # sides) — un-checkpointed, the hook join + hash-agg re-ran once per
        # side every round (ADVICE r5; the repo's two-consumers gotcha)
        # pointer doubling: label <- hooked(label). Self-join on the SAME
        # round's hooked frame (l1(l1(u))) — joining the stale frame would
        # only re-add last round's reach instead of composing this one's.
        # Labels are a subset of nodes by construction (they start as node
        # ids and only ever move to other nodes' ids), so the left join
        # misses nothing; coalesce guards the root (label(root)=root).
        new_labels = (
            hooked.alias("x")
            .join(
                hooked.select(
                    F.col("node").alias("label"), F.col("label").alias("gp")
                ).alias("y"),
                "label",
                "left",
            )
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("gp"), F.col("label"))).alias(
                    "label"
                ),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # loop exhausted max_iterations without converging: a component with
        # diameter > max_iterations (e.g. a sliding-window shingle chain)
        # would be silently split into several cluster_ids and
        # keep_one_per_cluster would under-deduplicate (ADVICE r3) — surface
        # the truncation instead of guessing
        import warnings

        warnings.warn(
            f"dedup_clusters did not converge within {max_iterations} iterations; "
            "long-chain components are split — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def keep_one_per_cluster(docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keeper selection: every doc keeps its row unless it belongs to a
    near-dup cluster and is not the cluster's canonical (minimum) id —
    the end of the dedup pipeline (find pairs -> cluster -> drop). Left
    join + filter: docs outside any cluster pass through untouched."""
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(drop.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keeper selection by QUALITY instead of by minimum id: within each
    near-dup cluster keep the row with the highest ``score_col`` (ties ->
    lowest id), e.g. keep the longest copy or the highest quality-score
    copy — what production dedup actually does (the canonical-min-id rule
    of ``keep_one_per_cluster`` discards arbitrarily). Docs outside any
    cluster pass through untouched.

    Plan shape: broadcast-sized ``clusters`` is NOT assumed — the keeper
    per cluster comes from one hash-agg over the (cluster memberships x
    score) join (``min_by`` on the (-score, id) struct: partial aggregation
    reduces each cluster to one candidate per map split, so a huge
    boilerplate cluster crosses the shuffle as #splits rows, the same
    hot-key story as salted uniqueness), then a left-anti join drops the
    non-keepers. Two shuffles total, both on doc/cluster ids."""
    member = clusters.select(
        F.col("doc_id").alias(id_col), F.col("cluster_id")
    ).join(docs.select(id_col, score_col), id_col)
    keepers = member.groupBy("cluster_id").agg(
        F.min_by(
            F.col(id_col), F.struct((-F.col(score_col)).alias("neg"), F.col(id_col))
        ).alias("keeper_id")
    )
    drop = member.join(keepers, "cluster_id").filter(
        F.col(id_col) != F.col("keeper_id")
    ).select(id_col)
    return docs.join(drop, id_col, "left_anti")


def simhash16(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash as a bit string: bit j votes +1 when hex digit j of the
    token's md5 has its high bit set, weighted by token frequency.

    Single fold over the tokens (md5 computed once per token, not once per
    bit): accumulate 16 high-bit counts, then threshold against n_tokens.
    """
    toks = tokens_col(F.col(text_col))
    n_tok = F.size(toks)
    hashes = F.transform(toks, lambda t: F.md5(t))  # md5 once per token
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda j: F.when(
                    h.substr(j, F.lit(1)).isin(*list(HEX_HIGH)), F.lit(1)
                ).otherwise(F.lit(0)),
            ),
            lambda a, b: a + b,
        ),
    )
    sig = F.concat(
        *[
            F.when(votes[j] * 2 >= n_tok, F.lit("1")).otherwise(F.lit("0"))
            for j in range(16)
        ]
    )
    return docs.select(F.col(id_col).alias("doc_id"), sig.alias("simhash"))


def normalized_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalized-exact dedup: digest groups after ``normalize_text``
    (case/punctuation/whitespace-insensitive) — the cheap middle ground
    between exact_duplicates and MinHash that catches reformatted copies
    (the most common near-dup class in scraped corpora) at exact-dedup
    cost: one digest groupBy, map-side partial agg, only digests cross
    the shuffle."""
    from sat_val_framework_spark.functions.text import normalize_text

    d = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(normalize_text(F.col(text_col))).alias("digest")
    )
    return (
        d.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_hits(
    docs: DataFrame,
    ref: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, n_hits, first_gram): documents sharing at least one
    EXACT word n-gram with the reference corpus — the classic benchmark
    decontamination rule (drop a training doc if any 13-gram of it appears
    in an eval set), the exact-substring complement of the MinHash
    ``cross_contamination`` (which finds whole-document near-dups; this
    finds verbatim spans inside otherwise-different documents).

    Scale shape: both sides explode to DISTINCT n-grams and meet in an
    equi-join on the gram string — a high-cardinality key (13-gram space
    is effectively unique), so the shuffle is well distributed and there
    is no pairwise blowup; per-doc hit counts come from one hash-agg.
    The reference side is deduplicated BEFORE the join so a gram repeated
    across eval docs costs one build row. At 10^12 docs the ref-gram side
    is the small one (eval sets are bounded) — Catalyst/AQE broadcasts it
    when it fits; the plan needs no hint either way. Docs shorter than n
    tokens contribute their whole text as one gram (shingles_col's floor),
    so ref docs that ARE verbatim short quotes still match. TOKEN-LESS
    (NULL/empty/whitespace) docs are dropped on BOTH sides up front: the
    shingle floor would give them all the identical '' gram, so one empty
    reference row would otherwise flag every empty training doc as
    contaminated (the same empty-doc clique guard cross_contamination
    carries — an empty doc cannot leak content; review finding r4)."""
    d_grams = docs.where(F.size(tokens_col(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles_col(F.col(text_col), n))).alias("gram"),
    )
    r_grams = (
        ref.where(F.size(tokens_col(F.col(ref_text_col))) > 0)
        .select(
            F.explode(F.array_distinct(shingles_col(F.col(ref_text_col), n))).alias("gram")
        )
        .distinct()
    )
    return (
        d_grams.join(r_grams, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("gram").alias("first_gram"),
        )
    )


def cross_contamination(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    rows_per_band: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize: str = "star",
    materialize_candidates: bool = True,
) -> DataFrame:
    """-> (a_id, b_id, jaccard): near-duplicate pairs ACROSS two corpora —
    benchmark-contamination detection (did eval data leak into the training
    corpus?), the cross-corpus twin of the A10 matcher contract
    (/root/reference/sat_val_framework/implement.py:140-143).

    Same LSH -> verify composition as within-corpus jaccard dedup: ids are
    side-prefixed ('a:'/'b:', so they cannot collide across corpora and the
    canonical doc_a < doc_b ordering puts the a-side first in every cross
    pair), signatures/banding run over the UNION once, and within-corpus
    candidate pairs are dropped BEFORE the expensive shingle verify — the
    verify cost tracks only cross-corpus candidates. Ids return as strings
    with the prefix stripped (callers cast back to their key type)."""
    # token-less (NULL/empty/whitespace) docs are dropped up front: the
    # shingle sentinel would give them ALL identical signatures, so every
    # empty doc on side a would pair with every empty doc on side b — a
    # quadratic clique of jaccard-1.0 false "contamination" (review
    # finding). The filter uses the TOKENIZER's own emptiness definition
    # (size(tokens) > 0, splitting on \s+) — a trim()-based check strips
    # only the space character and lets tab/newline-only docs through
    # (second review finding). An empty doc cannot leak content.
    def _side(df: DataFrame, tag: str) -> DataFrame:
        return df.where(F.size(tokens_col(F.col(text_col))) > 0).select(
            F.concat(F.lit(tag), F.col(id_col).cast("string")).alias(id_col),
            F.col(text_col),
        )

    u = _side(corpus_a, "a:").unionByName(_side(corpus_b, "b:"))
    sigs = minhash_signature(u, k, n, text_col, id_col)
    # max_bucket_size: the boilerplate guard (capped_bucket_pairs). In
    # 'star' mode an oversized bucket's hub is the minimum PREFIXED id —
    # an a-side doc whenever the bucket has one — so b-side members still
    # surface as (a_hub, b) cross pairs; a-members lose only their
    # direct pairings with non-hub b-members (audited, not silent).
    cands = lsh_candidate_pairs(
        sigs, bands, rows_per_band, max_bucket_size, oversize
    ).where(F.col("doc_a").startswith("a:") & F.col("doc_b").startswith("b:"))
    if materialize_candidates:
        # materialize the (small) cross-candidate id pairs so the verify
        # stage can prune its shingle explodes to candidate docs without
        # re-running the LSH pipeline as a second consumer (r6; guide §8 —
        # decide with small rows, and §3.3 — truncate the plan where a
        # subtree would otherwise execute twice). Cross-corpus candidates
        # are few by construction (contamination is the rare event).
        cands = cands.localCheckpoint(eager=True)
    pairs = jaccard_on_pairs(
        cands, u, threshold, n, text_col, id_col, prune_docs=materialize_candidates
    )
    return pairs.select(
        F.expr("substring(doc_a, 3)").alias("a_id"),
        F.expr("substring(doc_b, 3)").alias("b_id"),
        "jaccard",
    )
