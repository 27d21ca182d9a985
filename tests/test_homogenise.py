"""A8/A9: homogenisation to the canonical schema + re-assert, plus a
hypothesis property: canonicalization is invariant under span permutation."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark.operators.canonicalize import canonicalize_spans
from sat_val_framework_spark.operators.homogenise import HomogeniseError, homogenise_to
from sat_val_framework_spark.operators.stats import _norm_type, schema_assert


def _messy(spark):
    """A frame with reordered columns, long part ids, and extra columns —
    the 'different source format' a study would homogenise."""
    rows = [
        ("x", 3, [("text", "hello", None, 0), ("image", None, "m-000001", 1)], "junk"),
        ("y", 4, None, "junk"),
    ]
    schema = (
        "doc_id string, part_id long, "
        "spans array<struct<kind string, text string, media_ref string, offset long>>, extra string"
    )
    return spark.createDataFrame(rows, schema).select("extra", "spans", "part_id", "doc_id")


def test_homogenise_conforms_schema(spark):
    out = homogenise_to(_messy(spark), fx.DOCUMENTS_SCHEMA)
    assert _norm_type(out.schema) == _norm_type(fx.DOCUMENTS_SCHEMA)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["x"]["part_id"] == 3  # long -> int cast
    assert rows["x"]["spans"][0]["offset"] == 0
    assert rows["y"]["spans"] is None


def test_homogenise_missing_column_fails_eagerly(spark):
    df = _messy(spark).drop("doc_id")
    with pytest.raises(HomogeniseError, match="doc_id"):
        homogenise_to(df, fx.DOCUMENTS_SCHEMA)


def test_homogenise_reasserts(spark):
    out = homogenise_to(_messy(spark), fx.DOCUMENTS_SCHEMA)
    verdicts = schema_assert(out, fx.DOCUMENTS_SCHEMA, not_null=("spans",))
    v = verdicts.toPandas().set_index("part_id")
    assert v.loc[3, "status"] == "PASS"
    assert v.loc[4, "status"] == "FAIL" and v.loc[4, "violation_count"] == 1


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    perm_seed=st.integers(0, 10_000),
    spans=st.lists(
        st.tuples(
            st.sampled_from(["text", "image", "audio"]),
            st.one_of(st.none(), st.text(alphabet="abcxyz ", max_size=12)),
            st.one_of(st.none(), st.sampled_from(["m-1", "m-2"])),
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_canonicalization_permutation_invariant(perm_seed, spans, request):
    """Property: any storage order of the same (offset-keyed) spans
    canonicalizes identically (B9's determinism requirement)."""
    import random

    spark = request.getfixturevalue("spark")
    tagged = [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(spans)
    ]
    shuffled = tagged[:]
    random.Random(perm_seed).shuffle(shuffled)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("part_id", T.IntegerType()),
            T.StructField("spans", fx.DOCUMENTS_SCHEMA["spans"].dataType),
        ]
    )
    df = spark.createDataFrame(
        [("d", 0, tagged), ("d2", 0, shuffled)], schema
    )
    canon = {r["doc_id"]: r["canon"] for r in canonicalize_spans(df).collect()}
    assert canon["d"] == canon["d2"]
