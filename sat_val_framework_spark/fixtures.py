"""Deterministic synthetic fixtures (FIXTURES.md §1-3).

The generator must be byte-identical across runs AND across parallelism
levels (local[8] vs local[32] scaling evidence), so every value derives from
pure integer arithmetic on the row index — no RNG state, no wall clock.
``_mix`` is a Weyl-style mixer expressible identically as a Spark Column
expression, numpy arithmetic (the pandas oracle used in tests), and ANSI SQL.

Reference contracts realized here:
- the table shape is the authoritative input_hint (BASELINE.json):
  documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
- injected violations give the exact expected per-partition verdicts that
  the reference's construct-time QC would produce
  (/root/reference/sat_val_framework/implement.py:100-104).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEED = 42
N_PARTS = 16
N_MEDIA = 5_000
N_BINS = 32
MOD = 2_147_483_647  # 2^31 - 1

# spans distribution (clean): n_spans uniform on 1..12, text_len uniform on
# 20..219; the drifted partition (part_id == N_PARTS-1) shifts both.
DRIFT_PART = N_PARTS - 1

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), True),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("media_ref", T.StringType(), True),
                        T.StructField("offset", T.IntegerType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def _mix_col(i: Column, j: Column | int, tag: int) -> Column:
    """Deterministic mixer as a Spark Column (all int64 arithmetic).

    The affine part alone is linear in i, so within one partition (an
    arithmetic progression of i) its residues mod small k cycle with tiny
    period; the squaring step breaks that so small-modulus draws are
    near-uniform per partition. h < 2^31 so h*h+h fits in int64.
    """
    jj = F.lit(j) if isinstance(j, int) else j
    h = F.pmod(
        i * F.lit(1_000_003) + jj.cast("long") * F.lit(7_919) + F.lit(tag * 104_729 + SEED * 999_983),
        F.lit(MOD),
    )
    return F.pmod(h * h + h, F.lit(MOD))


def _mix_np(i, j, tag):
    """Same mixer over numpy int64 arrays (pandas oracle)."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    h = (i * 1_000_003 + j * 7_919 + (tag * 104_729 + SEED * 999_983)) % MOD
    return (h * h + h) % MOD


def documents_df(spark: SparkSession, n_docs: int = 10_000, n_parts: int = N_PARTS) -> DataFrame:
    """Interleaved text+media documents with seeded violations, generated
    entirely with column expressions (distributed, scale-invariant)."""
    i = F.col("id")
    drifted = (i % n_parts) == F.lit(DRIFT_PART)
    n_spans = (F.lit(1) + _mix_col(i, 0, 1) % 12 + F.when(drifted, F.lit(4)).otherwise(F.lit(0))).cast("int")

    def span(j: Column):
        kind_h = _mix_col(i, j, 2)
        is_text = kind_h % 10 < 7
        kind = (
            F.when(is_text, F.lit("text"))
            .when(kind_h % 2 == 0, F.lit("image"))
            .otherwise(F.lit("audio"))
        )
        base_len = _mix_col(i, j, 4) % 200
        text_len = (F.when(drifted, F.lit(120)).otherwise(F.lit(20)) + base_len).cast("int")
        text = F.when(
            is_text, F.rpad(F.format_string("t-%d-%d-", i, j.cast("long")), text_len, "x")
        ).otherwise(F.lit(None).cast("string"))
        dangling = i % 500 == F.lit(3)
        media_ref = F.when(
            is_text, F.lit(None).cast("string")
        ).otherwise(
            F.when(dangling, F.format_string("m-missing-%d", i)).otherwise(
                F.format_string("m-%06d", _mix_col(i, j, 3) % N_MEDIA)
            )
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            j.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span)
    dup = i % 1000 == F.lit(7)
    null_spans = i % 2000 == F.lit(11)
    return (
        spark.range(n_docs)
        .select(
            F.when(dup, F.format_string("doc-%08d", i - 1))
            .otherwise(F.format_string("doc-%08d", i))
            .alias("doc_id"),
            (i % n_parts).cast("int").alias("part_id"),
            F.when(null_spans, F.lit(None).cast(DOCUMENTS_SCHEMA["spans"].dataType))
            .otherwise(spans)
            .alias("spans"),
        )
    )


def media_catalog_df(spark: SparkSession, n_media: int = N_MEDIA) -> DataFrame:
    i = F.col("id")
    return spark.range(n_media).select(
        F.format_string("m-%06d", i).alias("media_ref"),
        F.when(i % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("media_type"),
        (F.lit(1000) + _mix_col(i, 0, 5) % 100_000).alias("size_bytes"),
    )


def baseline_stats_pandas() -> pd.DataFrame:
    """Analytic reference histograms as a driver-side pandas frame — the
    baseline is metadata-sized, so consumers that only need bin edges and
    ref fractions can skip Spark jobs entirely."""
    return pd.DataFrame(
        _baseline_rows(), columns=["col_name", "bin_id", "bin_lo", "bin_hi", "ref_frac"]
    )


def _baseline_rows() -> list[tuple]:
    rows = []
    # n_spans: clean uniform on 1..12 -> bins [k, k+1) for k in 0..N_BINS-1
    for b in range(N_BINS):
        lo, hi = float(b), float(b + 1)
        frac = 1.0 / 12.0 if 1 <= b <= 12 else 0.0
        rows.append(("n_spans", b, lo, hi, frac))
    # text_len: clean uniform on [20, 220) -> 32 bins of width 10 over [0, 320)
    for b in range(N_BINS):
        lo, hi = b * 10.0, (b + 1) * 10.0
        frac = 10.0 / 200.0 if 20.0 <= lo and hi <= 220.0 else 0.0
        rows.append(("text_len", b, lo, hi, frac))
    return rows


def _baseline_kind_rows() -> list[tuple]:
    # analytic span-kind mix: kind_h%10<7 -> text (0.7); else residue 8 of
    # {7,8,9} is the only even one -> image 0.1, audio 0.2 (verified against
    # the mixer empirically: 0.6994/0.1005/0.2001 at 260k spans)
    return [("kind", "text", 0.7), ("kind", "image", 0.1), ("kind", "audio", 0.2)]


def baseline_kinds_df(spark: SparkSession) -> DataFrame:
    """Categorical baseline table (col_name, value, ref_frac): the clean
    span-kind distribution, for the drift_categorical suite kind."""
    schema = T.StructType(
        [
            T.StructField("col_name", T.StringType(), False),
            T.StructField("value", T.StringType(), False),
            T.StructField("ref_frac", T.DoubleType(), False),
        ]
    )
    return spark.createDataFrame(_baseline_kind_rows(), schema)


def baseline_stats_df(spark: SparkSession) -> DataFrame:
    """Analytic reference histograms of the *clean* distributions
    (FIXTURES.md §3): fixed bin edges, ref_frac sums to 1 per column."""
    rows = _baseline_rows()
    schema = T.StructType(
        [
            T.StructField("col_name", T.StringType(), False),
            T.StructField("bin_id", T.IntegerType(), False),
            T.StructField("bin_lo", T.DoubleType(), False),
            T.StructField("bin_hi", T.DoubleType(), False),
            T.StructField("ref_frac", T.DoubleType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# pandas oracle twin: identical arithmetic, used by pytest to compute exact
# expected verdicts independently of the Spark plan under test.
# ---------------------------------------------------------------------------


def documents_pandas(n_docs: int = 10_000, n_parts: int = N_PARTS) -> pd.DataFrame:
    i = np.arange(n_docs, dtype=np.int64)
    part_id = (i % n_parts).astype(np.int32)
    drifted = part_id == DRIFT_PART
    n_spans = 1 + _mix_np(i, 0, 1) % 12 + np.where(drifted, 4, 0)
    dup = i % 1000 == 7
    null_spans = i % 2000 == 11
    doc_id = np.where(dup, i - 1, i)

    recs = []
    for idx in range(n_docs):
        if null_spans[idx]:
            spans = None
        else:
            spans = []
            for j in range(int(n_spans[idx])):
                kind_h = int(_mix_np(idx, j, 2))
                is_text = kind_h % 10 < 7
                kind = "text" if is_text else ("image" if kind_h % 2 == 0 else "audio")
                if is_text:
                    tl = (120 if drifted[idx] else 20) + int(_mix_np(idx, j, 4)) % 200
                    text = f"t-{idx}-{j}-".ljust(tl, "x")[:tl]
                    mref = None
                else:
                    text = None
                    if idx % 500 == 3:
                        mref = f"m-missing-{idx}"
                    else:
                        mref = "m-%06d" % (int(_mix_np(idx, j, 3)) % N_MEDIA)
                spans.append({"kind": kind, "text": text, "media_ref": mref, "offset": j})
        recs.append(
            {
                "doc_id": "doc-%08d" % doc_id[idx],
                "part_id": int(part_id[idx]),
                "spans": spans,
            }
        )
    return pd.DataFrame(recs)
