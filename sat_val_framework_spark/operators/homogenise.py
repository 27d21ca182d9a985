"""A8/A9: homogenisation — coerce a document frame into the canonical
target schema, then re-assert.

Contract: ``RawData.homogenise_to(H)`` coerces a granule into a common
target format and ``HomogenisedData.__init__`` re-validates on construction
(/root/reference/sat_val_framework/implement.py:124-136). Engine form: a
pure-projection conformance (column order, nested field order, types) to a
target ``StructType`` — Catalyst folds it into whatever scan precedes it —
re-validated by the standard check:
``schema_assert(homogenise_to(df, target), target)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class HomogeniseError(ValueError):
    """A source column required by the target schema is missing entirely
    (casts handle type coercion; absence is not coercible)."""


def _conform(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.StructType):
        return F.when(
            col.isNotNull(),
            F.struct(*[_conform(col[f.name], f.dataType).alias(f.name) for f in dt.fields]),
        )
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _conform(x, dt.elementType))
    return col.cast(dt)


def homogenise_to(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast ``df`` into exactly ``target`` (column order included).

    Missing top-level columns raise HomogeniseError eagerly (driver-side,
    before any job — the construct-time validation discipline). Missing
    nested fields surface as nulls, which the re-assert then counts.
    """
    missing = [f.name for f in target.fields if f.name not in df.columns]
    if missing:
        raise HomogeniseError(f"cannot homogenise: missing columns {missing}")

    out_cols = []
    for f in target.fields:
        src_dt = df.schema[f.name].dataType
        if isinstance(f.dataType, (T.StructType, T.ArrayType)) and src_dt != f.dataType:
            out_cols.append(_conform(F.col(f.name), f.dataType).alias(f.name))
        else:
            out_cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return df.select(*out_cols)
