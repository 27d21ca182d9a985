"""B10: whole-document gating (None-propagation contract).

In the reference, if ANY member of a collocation event fails to load or
subset, the ENTIRE event becomes None and is dropped — and that drop is
observable (/root/reference/sat_val_framework/implement.py:185-187,211-213).
Engine form: a document failing any gating check is excluded as a unit via
LEFT ANTI join against the union of per-check violating doc_ids, and the
rejections are themselves emitted as verdict rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_val_framework_spark.verdicts import violation_verdicts


def gate_documents(
    docs: DataFrame,
    violating_doc_ids: list[DataFrame],
    part_col: str = "part_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (surviving docs, rejected docs, per-partition gating verdicts).

    ``violating_doc_ids``: DataFrames each having a ``doc_id`` column (the
    violation outputs of other checks). Dedup before the anti join so a doc
    failing three checks is rejected once.
    """
    if not violating_doc_ids:
        bad = docs.select("doc_id").limit(0)
    else:
        bad = violating_doc_ids[0].select("doc_id")
        for v in violating_doc_ids[1:]:
            bad = bad.unionByName(v.select("doc_id"))
    bad = bad.distinct()

    surviving = docs.join(bad, "doc_id", "left_anti")
    rejected = docs.join(bad, "doc_id", "left_semi")

    rej = rejected.select(F.col(part_col).alias("part_id"), "doc_id")
    verdicts = violation_verdicts(docs, rej, "gate:any_violation", "doc_id", part_col)
    return surviving, rejected, verdicts
