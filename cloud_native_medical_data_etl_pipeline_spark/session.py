"""SparkSession factory.

Defaults are chosen for the 100 TB design point but work unchanged on
local[N]: AQE on (runtime coalescing, broadcast-join conversion, skew
splitting), Arrow on for any pandas interchange, and a shuffle
partition count that AQE can shrink at runtime.

The driver JVM also gets a compile budget for short-lived daily runs
(one JVM per day): a whole-stage-codegen class cache larger than a
day's working set, so a re-run of the same plan shapes reuses its
compiled classes, and HotSpot's C2 tier deferred for code that is warm
but not hot. Both take effect only when this factory launches the JVM;
a driver started by spark-submit in cluster mode or from a pod spec
needs the same settings on its own command line (SCALING.md, "Driver
JVM compile budget").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One daily pipeline run generates ~106 distinct whole-stage-codegen
# classes; Spark's default cache of 100 makes the LRU evict them within
# a run, so every later run Janino-compiles (and the JIT recompiles)
# 50-80 of them again. 2000 holds a day's plans many times over, with
# room for the other operators sharing a long-lived session.
_CODEGEN_CACHE_ENTRIES = 2000

# HotSpot tier-4 (C2) invocation thresholds at ~10x their defaults
# (5000 / 600 / 15000): a daily job's planner and codegen'd operators
# run hundreds to thousands of times, enough to make C2 compile them
# at the defaults but not to pay it back within one job. The back-edge
# threshold stays at its default so hot data-plane loops still reach
# C2 through on-stack replacement (raising it too made a 150k-event
# day's first job 20 % slower); C1-only (TieredStopAtLevel=1) is not
# used because it slowed steady-state curation jobs by half.
_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=60000"
)


def get_spark(
    app_name: str = "medical-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: coalesce post-shuffle partitions, convert
        # sort-merge to broadcast when runtime stats allow, split skewed
        # partitions. Essential at 100 TB, harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        # Deterministic wall-clock semantics: NTZ<->Timestamp casts are
        # value-preserving and match DuckDB's naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas_udf / toPandas interchange (vector ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep non-ANSI coercion semantics: cast/to_date yield null on
        # failure, matching the reference's errors='coerce' everywhere.
        .config("spark.sql.ansi.enabled", "false")
        # Tolerate TIMESTAMP(NANOS) parquet columns (read as long).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reasonable split size so huge parquet files parallelize.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # keep catalog tables (bucketed writes) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # defaultJavaOptions, not extraJavaOptions: callers pass their
        # own extraJavaOptions (tmpdir, perf data), which would replace
        # these; Spark puts both on the driver's command line
        .config("spark.driver.defaultJavaOptions", _DRIVER_JIT_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
