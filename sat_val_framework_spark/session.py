"""SparkSession factory tuned for the validation workload.

Local mode is the sandbox stand-in for a multi-executor cluster; the configs
below are the ones that matter at 100 TB too: AQE (runtime re-plan + skew
join), Arrow for the pandas-UDF drift path, shuffle partitions sized to the
parallelism instead of the 200 default.

Two settings cut driver-side cost, which dominates plan-heavy runs:

- ``spark.sql.codegen.cache.maxEntries=2048``. Spark keeps generated classes
  in a JVM-wide cache of 100 entries by default. One pass over the 86
  ``__spark_entry__`` queries at sf0.01 compiles about 1,060 distinct
  classes, and the ten-query perfbench ``operator_mix`` about 180 per
  iteration, so at 100 entries a session running the same queries again
  evicts and recompiles every class, and the JIT warms each new copy
  again. With 2048 entries a warm ``operator_mix`` iteration compiles 0
  classes instead of ~180, a second 86-query pass 38 instead of ~1,380,
  and even a single cold pass ~1,060 instead of ~1,400, because queries
  share classes; Metaspace grows by ~10 MB. 512 entries was too small: a
  second 86-query pass still recompiled ~1,050.
- ``spark.python.sql.dataFrameDebugging.enabled=false``. With it on (the
  PySpark default) every ``F.*`` and Column call captures its Python call
  site through py4j session/conf round trips: ``F.col`` costs 13 round
  trips instead of 3, and a warm fused-suite plan build ~3,500 instead of
  ~1,900-2,150. The trade-off is in error text only: a Spark error's
  ``== DataFrame ==`` context names a JVM frame rather than the Python
  ``file:line`` that built the failing Column. Error classes and message
  text are unchanged; in an ERROR verdict row only that tail of the
  sample message differs.

Both take effect only when ``get_spark`` creates the Spark context: the
codegen cache size is a static SQL conf read once per JVM when the cache is
first used, and PySpark reads the debugging flag once per Python process, on
its first Column call, and keeps it in a module global
(``pyspark.errors.utils.is_debugging_enabled``). ``get_spark`` applies them
before ``extra_conf``, so a caller can override either.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sat_val_framework_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return the running) SparkSession with the engine's settings.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (the host's CPU
    count if unset) unless running under spark-submit; ``extra_conf`` is
    applied last and overrides any setting here. The codegen cache size and the PySpark
    debugging flag (module docstring) only take effect if this call
    creates the Spark context: an already running session keeps the values
    it was built with, and PySpark keeps the debugging flag it read first
    for the life of the process.
    """
    # Under spark-submit the JVM gateway already exists and --master is
    # authoritative: setting builder.master would silently OVERRIDE the
    # submitted master (observed: a --master local[2] job running local[32]).
    under_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_spark_submit:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
        master = f"local[{cpus}]"
    if shuffle_partitions is None and master:
        n = master.removeprefix("local[").removesuffix("]")
        par = os.cpu_count() if n in ("*", "") or not n.isdigit() else int(n)
        shuffle_partitions = max(int(par), 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # finer input splits: keeps scan stages at >= cores tasks and lets
        # the scheduler balance around size-skewed files
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # driver-side cost; see the module docstring for the measurements
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # master came from spark-submit: size shuffles to the actual cores
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism, 8)),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
