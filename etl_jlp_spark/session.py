"""SparkSession factory with scale-oriented defaults.

The reference (dwh_lab/dwh/general_lib.py) hand-rolls IO and transforms
in pandas on one node; here a single tuned SparkSession is the engine.
Settings chosen for a 1000-executor / 100 TB deployment but harmless on
local[*]:

- AQE on (runtime coalesce + skew-join splitting),
- session timezone pinned to UTC so event-time semantics are
  deployment-independent (and match the DuckDB oracles),
- Arrow enabled for the few Pandas-UDF paths (vector ops, multimodal),
- shuffle partitions sized by env (32 for local tests; a real cluster
  sets this to ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# The directory holding this package (the repo root in a checkout).
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ship_package(spark: SparkSession) -> SparkSession:
    """Put ``PACKAGE_ROOT`` on the Python workers' ``sys.path``. Arrow
    UDFs (mapInPandas, applyInPandas) reference functions of this
    package, and a worker otherwise imports only from the driver's
    working directory. Every Python function built afterwards carries
    the path; idempotent, once per session."""
    includes = spark.sparkContext._python_includes
    if PACKAGE_ROOT not in includes:
        includes.append(PACKAGE_ROOT)
    return spark


def get_spark(app_name: str = "etl_jlp_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet stores TIMESTAMP(NANOS); read as long, the
        # catalog converts to microsecond timestamps (matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # untagged parquet timestamps -> classic TIMESTAMP (session is
        # UTC, so values match DuckDB's naive reading exactly)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Generated classes are cached by source text, and the default
        # 100 entries is smaller than one sweep of the light fleet (about
        # 110 distinct classes): the cache evicted in a cycle and every
        # warm rep recompiled them all. 2000 holds the ~1240 distinct
        # classes of a 60-query bench.py sweep at sf0.01 (4 cores): warm
        # reps went from ~1510 compiles to 36-98 (queries whose code
        # differs per run), for 217 vs 205 MiB Metaspace after four reps.
        # Static conf: a caller's own session keeps Spark's default.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # NEGATIVE RESULT pinned (r11): -XX:-DontCompileHugeMethods was
        # tried here. HotSpot refuses to JIT methods over 8000 bytecodes,
        # so codegen'd wide expression chains (the 64-dim static_dot
        # family compiles to 15-25 KB methods) run INTERPRETED — and the
        # flag made an isolated 1M-row scoring stage 7.8x faster. But
        # fleet-wide it measured a NET LOSS (full-sweep geomean 0.93 vs
        # the unflagged tree in adjacent sessions): C2 recompiled each
        # huge method from scratch per bench rep, and on the many short
        # queries that compile time exceeded the interpreted savings.
        # That was measured while the 100-entry codegen cache above was
        # thrashing, so every rep also regenerated its classes; with the
        # classes now reused across reps the trade-off may differ, but
        # the flag has not been re-measured. The durable fix is still
        # structural (keep generated methods small, or move wide
        # arithmetic to numpy like knn_loo's mapInPandas scorer).
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return ship_package(builder.getOrCreate())
