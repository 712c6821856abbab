"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-first parity runs locally and for scale-out defaults:
AQE on (runtime coalescing + skew-join splitting), Arrow transfers on for the
few vectorized UDFs, UTC session time zone so results are reproducible and
comparable with external oracles (DuckDB), and shuffle partition counts that
callers override per data scale.

The generated-class cache holds 4096 entries, not Spark's 100, so a repeated
sweep over the registry reuses its compiled code. One sweep uses about 285
generated classes over the 24 perfbench queries and about 1,000 over all 80
registry queries at sf0.01; with 100 entries every sweep compiled them again.

PySpark's DataFrame debugging is off. With it on, every wrapped PySpark
call (each ``functions.*``, Column and DataFrame method) also looks up the
active session, reads ``spark.sql.stackTracesInDataFrameContext`` and sets
and clears the JVM-side call-site origin: about half of the 9.6k py4j round
trips one 24-query sweep made to build its DataFrames. The cost is that a
DataFrame error no longer names the Python ``file:line`` of the call that
built the failing expression. A caller who wants that back passes
``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` as
``extra_conf``. It is a static setting, and PySpark reads it once per
process, so it only takes effect when the first session is built.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "seq2rel-ds-spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores`` pins an explicit ``local[N]`` master — used by the bench
    harness to measure scaling efficiency at two parallelism levels.  When
    unset, ``SPARK_GRAFT_CPUS`` or ``local[*]`` is used.  On a real cluster
    the master comes from spark-submit and this falls through untouched.
    """
    if cores is not None:
        master = f"local[{cores}]"
    else:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cpus}]" if env_cpus else "local[*]"

    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # AQE: runtime partition coalescing and skew-join splitting. Explicit
        # salting is still applied on groupBy hot keys (AQE only fixes joins).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the vectorized pandas UDF surface.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scans splittable at the target scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        # Generated-class cache. Spark keeps Janino-compiled classes in an LRU
        # cache of 100 entries by default. A sweep over the registry cycles
        # through more distinct classes than that (24 perfbench queries: ~285;
        # all 80 queries at sf0.01: ~1,000), and LRU under cyclic access over
        # more keys than slots evicts each class just before its next use, so
        # every sweep recompiled all of them and the JIT compiled them again.
        # 4096 holds the whole registry with headroom. Static conf: it only
        # takes effect when the JVM's first session is built here.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # No Python call-site capture around every PySpark API call (see the
        # module docstring): halves the py4j round trips of building a plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # Only force the master when not already running under spark-submit.
    if "SPARK_SUBMIT_MASTER" not in os.environ:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
