"""PySpark-native schema + constraint validation engine.

A brand-new, Spark-first re-expression of the quality-check contracts of
``DAndrewA/sat-val-framework`` (reference at /root/reference, read-only):

- eager QC on scan (reference ``implement.py:100-104``)  -> fused scan+assert+agg jobs
- errors-as-values (``implement.py:23-56``)              -> verdict/violation rows
- whole-event rejection (``implement.py:185-187``)       -> doc-level gating
- typed suite config (``implement.py:147-162``)          -> schema-validated CheckSuite
- checkpointed event list (``usable.py:51-62``)          -> parquet metrics table + left-anti resume

Everything here is DataFrame/Column-expression based, the whole suite path
(``runner.run_suite`` and its fused passes) included. Python touches data
only in vectorized (Arrow) kernels outside it: ``mapInPandas`` in
``functions.dedup`` (MinHash signatures) and ``functions.multimodal``, the
bucket kernel of ``functions.similarity`` (``applyInPandas``), the
``pandas_udf`` in ``functions.text``, and ``applyInPandasWithState`` in
the stateful ``streaming`` operators.
"""

from sat_val_framework_spark.session import get_spark
from sat_val_framework_spark.suite import Check, CheckSuite, SuiteConfigError
from sat_val_framework_spark.verdicts import VERDICT_SCHEMA

__all__ = [
    "get_spark",
    "Check",
    "CheckSuite",
    "SuiteConfigError",
    "VERDICT_SCHEMA",
]
