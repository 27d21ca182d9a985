"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no Python in
the hot path. Every function's output columns carry stable aliases so the
DuckDB oracle twins in __spark_entry__ can hash-match values exactly; every
expression here was chosen to evaluate identically in Spark SQL and ANSI
SQL (md5 hex, regexp_count with RE2-compatible patterns, \\s+ splits).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# word-boundary stopword alternation — identical semantics under Java regex
# (Spark) and RE2 (DuckDB); keep in sync with __spark_entry__ oracle SQL
STOPWORD_RE = r"\b(the|a|an|and|of|to|in|is|it|for|on|with)\b"
PUNCT_RE = r"[.,;:!?]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; '' -> empty array, not ['']."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def n_tokens_col(text: Column) -> Column:
    """NULL-safe token count: F.size(NULL) is -1 (legacy Spark semantics),
    which would diverge from SQL NULL — guard explicitly."""
    return F.when(text.isNotNull(), F.size(tokens_col(text))).cast("long")


def token_count(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_tokens_col(F.col(text_col)).alias("n_tokens"),
    )


# BPE-style pre-tokenizer pattern (GPT-2 lineage, lookahead-free so it means
# the same thing under Java regex (Spark) and RE2 (DuckDB)): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs, then
# whitespace runs. Token count under this pattern tracks BPE token count far
# better than whitespace splitting (punctuation and numbers count separately).
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}']+|\s+"


def token_count_bpe(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish token count: number of pre-tokenizer matches. Pure JVM-side
    regexp_count — the cheap proxy a 100 TB pipeline uses to budget training
    tokens without running a real tokenizer over every document."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(t.isNotNull(), F.regexp_count(t, F.lit(BPE_TOKEN_RE))).cast("long").alias(
            "n_bpe_tokens"
        ),
    )


# Toy merges table for the driver query (VERDICT r4 #3). Rank order
# matters — textbook BPE applies the lowest-rank adjacent pair first. The
# table is deliberately CLOSED: no merge's output can ever create a pair
# of LOWER rank (outputs are never bare single letters, and every
# chained pair points forward: sc->sca, th->the, va->val, ro->row,
# fa->fas->fast), so fold-by-rank equals textbook BPE — which is what
# lets the DuckDB twin express the encode as a rank-ordered replace()
# chain with single-char aliases and count symbols via length().
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("s", "c"), ("sc", "a"), ("a", "n"), ("t", "h"), ("th", "e"),
    ("v", "a"), ("va", "l"), ("r", "o"), ("ro", "w"), ("f", "a"),
    ("fa", "s"), ("fas", "t"),
)


def _bpe_symbol_count(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Textbook byte-pair encode of one pre-token, returning the symbol
    count: repeatedly merge the lowest-rank adjacent pair (leftmost-first,
    non-overlapping) until no table pair remains."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (syms[i], syms[i + 1])
        if best is None:
            break
        a, b = best
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def bpe_token_count(
    docs: DataFrame,
    merges: "tuple[tuple[str, str], ...]" = DEFAULT_BPE_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_bpe_tokens): REAL merges-table BPE token count (VERDICT
    r4 #3) — not the regexp pre-token proxy (``token_count_bpe``). Each
    document is pre-tokenized with ``BPE_TOKEN_RE`` (the same GPT-2-style
    pattern the proxy counts), then every pre-token is byte-pair encoded
    against the rank-ordered ``merges`` table and the doc's token count is
    the total number of final symbols (unmerged characters count one each,
    so whitespace runs and leading spaces are symbols — stated convention,
    mirrored by the SQL twin's length() counting).

    Scale shape: ONE scan + ONE Arrow stage — an Arrow-batched
    ``pandas_udf`` projection (no explode, no per-row Python UDF, no
    shuffle; the output rides whatever partitioning the scan has). The
    merges table ships to executors inside the serialized closure — the
    broadcast-a-dimension pattern at metadata size (a production 50k-merge
    GPT-2 table is ~1 MB and ships the same way; swap to
    ``sc.broadcast`` only if many UDFs share one vocab). Within each Arrow
    batch a memo cache collapses repeated pre-tokens (Zipf: the hit rate
    on natural text is high), so the encode loop runs per DISTINCT word,
    not per occurrence. Pre-tokenization uses the third-party ``regex``
    module when available (true \\p{L}/\\p{N} semantics, matching Spark's
    Java regex and DuckDB's RE2); the stdlib ``re`` fallback approximates
    the classes for ASCII corpora."""
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        try:
            import regex as _re

            pat = _re.compile(BPE_TOKEN_RE)
        except ImportError:  # pragma: no cover - sandbox ships `regex`
            import re as _re

            # stdlib re has no \p classes: letters ~ [^\W\d_], numbers ~ \d
            # — exact on ASCII corpora, approximate beyond
            pat = _re.compile(
                r"'(?:s|t|re|ve|m|ll|d)| ?[^\W\d_]+| ?\d+| ?[^\s\w']+|\s+"
            )
        cache: dict[str, int] = {}

        def doc_count(t):
            if t is None or (isinstance(t, float) and pd.isna(t)):
                return None
            total = 0
            for w in pat.findall(t):
                n = cache.get(w)
                if n is None:
                    n = _bpe_symbol_count(w, ranks)
                    cache[w] = n
                total += n
            return total

        return pd.Series([doc_count(t) for t in texts], dtype="Int64")

    return docs.select(
        F.col(id_col).alias("doc_id"), _count(F.col(text_col)).alias("n_bpe_tokens")
    )


def quality_score_col(t: Column) -> Column:
    """The (6dp-rounded) quality score as a bare Column — shared by
    ``quality_score`` and single-scan fusions (e.g. the training_filter
    query computes score + lang + digest in ONE projection instead of
    three scans + three joins; r6, guide §1.2)."""
    n_chars = F.length(t)
    n_tokens = n_tokens_col(t)
    n_punct = F.regexp_count(t, F.lit(PUNCT_RE))
    n_stop = F.regexp_count(F.lower(t), F.lit(STOPWORD_RE))
    avg_tok = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    score = (
        F.least(stop_ratio * 2.0, F.lit(1.0)) * 0.5
        + F.when((avg_tok >= 3.0) & (avg_tok <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0)) * 0.3
        + F.least(punct_ratio * 20.0, F.lit(1.0)) * 0.2
    )
    return F.round(score, 6)


def lang_pred_col(t: Column) -> Column:
    """The predicted-language Column of ``lang_id`` (same sharing rationale
    as quality_score_col)."""
    n_tokens = n_tokens_col(t)
    n_stop = F.regexp_count(F.lower(t), F.lit(STOPWORD_RE))
    ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    return F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unk"))


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword heuristics -> one quality score.

    The score is a deterministic arithmetic blend, not a model: pipelines
    threshold it to drop boilerplate/garbage before training.
    """
    t = F.col(text_col)
    lower = F.lower(t)
    n_chars = F.length(t)
    n_tokens = n_tokens_col(t)
    n_punct = F.regexp_count(t, F.lit(PUNCT_RE))
    n_stop = F.regexp_count(lower, F.lit(STOPWORD_RE))
    avg_tok = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        quality_score_col(t).alias("quality_score"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/stopword-heuristic language ID. Real pipelines plug a model in
    here; the engine contract is the shape: doc_id -> (lang, confidence)."""
    t = F.col(text_col)
    n_tokens = n_tokens_col(t)
    n_stop = F.regexp_count(F.lower(t), F.lit(STOPWORD_RE))
    ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        lang_pred_col(t).alias("lang_pred"),
        F.round(F.least(ratio * 5.0, F.lit(1.0)), 6).alias("lang_conf"),
    )


def hex60(h: Column) -> Column:
    """The top 60 bits of an md5 hex digest ``h`` as a non-negative long:
    its first 15 hex digits, the widest prefix whose value fits a signed
    long. The one md5-to-integer format: sampling buckets, Count-Min
    buckets, MinHash shingle hashes (the Arrow kernel computes it as
    ``int.from_bytes(digest[:8], 'big') >> 4``) and SimHash votes all read
    it, and the DuckDB twins read the same digits as
    ``('0x' || substr(md5(x), 1, 15))::bigint``. Takes the digest, not the
    text, so a caller that needs more digits of the same hash computes md5
    once."""
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
) -> DataFrame:
    """Rolling-hash document fingerprint: min md5 hex digest over all
    ``window``-char substrings (a 1-hash winnowing sketch). Two docs sharing
    any long run of text collide with high probability — a cheap near-dup
    prefilter. md5 is bit-reproducible in ANSI SQL, so the DuckDB oracle
    twin checks the value, not just its shape."""
    t = F.col(text_col)
    n = F.greatest(F.length(t) - (window - 1), F.lit(1))
    mins = F.array_min(
        F.transform(F.sequence(F.lit(1), n), lambda j: F.md5(t.substr(j, F.lit(window))))
    )
    return docs.select(F.col(id_col).alias("doc_id"), mins.alias("fingerprint"))


def normalize_text(text: Column) -> Column:
    """Canonical text form for normalized dedup: lowercase, strip everything
    but [a-z0-9 ] (ASCII-conservative on purpose — identical semantics in
    Java regex and ANSI SQL engines), collapse whitespace runs, trim.
    NULL stays NULL."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def vocab_topk(
    docs: DataFrame, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary profile: top-k tokens by total occurrences, with
    document frequency — the sanity check a training corpus gets before
    tokenizer/vocab decisions (and a drift signal: the head of the token
    distribution is stable for a healthy source).

    Scale shape: explode -> ONE hash-agg per token (partial aggregation
    combines within each split, so only distinct tokens cross the shuffle;
    doc frequency rides the same agg as count_distinct with its standard
    two-phase plan) -> orderBy().limit(k) = TakeOrderedAndProject (per-task
    k-row heap, O(k) memory — NEVER a global window; the frequent_values
    lesson). Ties break on the token ascending for determinism."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.col("n_occurrences").desc(), F.col("token")).limit(k)


# lookaround-free patterns, identical semantics in Java regex and RE2
# (DuckDB): the safe common dialect, same constraint as the BPE pre-tokenizer
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Training corpora must not memorize contact details: replace emails,
    IPv4 addresses, and phone-shaped digit runs with typed placeholders.
    Pure JVM ``regexp_replace`` chain (whole-stage codegen, no Python);
    patterns are deliberately lookaround-free so the DuckDB oracle twin is
    bit-identical. Order matters: emails first (their local part can look
    phone-shaped), then IPs (dotted digits would otherwise match the phone
    run), then phones. NULL stays NULL."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText quality-
    filter family): ``dup_word_frac`` (1 - distinct/total tokens) and
    ``top_bigram_frac`` (occurrences of the most common word bigram /
    total bigrams). Degenerate generated/boilerplate text scores high on
    both; a downstream training_filter thresholds them.

    Scale shape: ONE scan — dup_word_frac rides the bigram rows through
    the (doc, bigram) partial hash-agg as a constant-per-doc column
    (``first`` in both agg levels), so there is no second tokenize pass
    and no join-back (the two-consumer double-scan shape PLANS.md measured
    at −7.6% in fused Pass C). ``explode_outer`` keeps docs with no
    bigrams. Token-less and NULL docs get NULL fractions (undefined, not
    0 — the callers' NULL-handling decides)."""
    carry = list(carry_cols or [])  # GROUPING keys, not first()-carried
    # constants: with duplicate doc_ids spanning partitions (exactly the
    # defect the unique/fd checks model) a first()-carry merges the two
    # docs' tokens into one profile and picks the partition
    # nondeterministically (advice r4) — keying both agg levels on
    # (carry, doc_id) keeps one profile per physical document at the same
    # shuffle width (the composite key is a superset of doc_id)
    toks = tokens_col(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        *carry,
        F.when(F.size(toks) > 0, 1.0 - F.size(F.array_distinct(toks)) / F.size(toks))
        .alias("__dwf"),
        toks.alias("__toks"),
    )
    rows = base.select(
        "doc_id",
        *carry,
        "__dwf",
        F.explode_outer(
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.slice("__toks", 1, F.size("__toks") - 1),
                    lambda t, i: F.concat_ws(" ", t, F.element_at(F.col("__toks"), i + 2)),
                ),
            )
        ).alias("bigram"),
    )
    per_big = rows.groupBy("doc_id", *carry, "bigram").agg(
        F.count(F.lit(1)).alias("c"),
        # min, not first: deterministic even if the SAME (carry, doc_id)
        # key still holds several rows (min ignores NULL __dwf rows)
        F.min("__dwf").alias("__dwf"),
    )
    has_big = F.col("bigram").isNotNull()
    return per_big.groupBy("doc_id", *carry).agg(
        F.round(F.min("__dwf"), 6).alias("dup_word_frac"),
        F.round(
            F.max(F.when(has_big, F.col("c")))
            / F.sum(F.when(has_big, F.col("c"))),
            6,
        ).alias("top_bigram_frac"),
    )
