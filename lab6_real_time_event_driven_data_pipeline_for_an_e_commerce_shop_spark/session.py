"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB target:

- **AQE on** (coalesce shuffle partitions, skew-join splitting, runtime
  broadcast conversion) so plans re-optimize with real statistics.
- **Auto broadcast** for dimension tables (``part``/``products`` style) —
  the reference's 3-way join (reference transform.py:311-313) never hinted
  a broadcast; we both hint it explicitly (operators/enrich.py) and leave
  the threshold for Catalyst to catch others.
- **Arrow** for every pandas interchange (Pandas UDFs, toPandas) so the
  Python boundary is columnar, never row-at-a-time pickling.
- shuffle partitions default to a small local value but MUST be raised
  (or left to AQE's coalescing from a high initial value) on a real
  cluster; ``build_session`` takes it as a parameter for that reason.
- **Generated-class cache sized to the working set**
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps at most 100 compiled classes
  by default and evicts the least recently used, while one round robin
  of the 12 headline queries needs ~145 and one medallion cycle ~195:
  every class was evicted before its next use, so every steady
  operation recompiled (~12 classes per query) and ran freshly loaded,
  un-JIT-ed code. Working sets counted with an unbounded cache: 232
  entries for the headline round robin, 241–250 for the trickle cycle,
  1,382 for the 50-query gate sweep at sf0.01 (an entry is per class
  loader and code, so one plan can count twice). The conf is static:
  Spark reads it once per JVM, when the JVM first generates code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# above the largest measured working set (1,382 entries, the 50-query sweep)
CODEGEN_CACHE_ENTRIES = 2048


def build_session(
    app_name: str = "lab6-ecommerce-spark-engine",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-oriented defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r17: let AQE size the shuffles INSIDE cached-plan
        # materialization too (off by default for exchange-reuse
        # conservatism). Substrate caches are this engine's central
        # pattern, and with the flag off every shuffle under a cache
        # runs at the static session width on every materialization —
        # the one place AQE's runtime statistics were not applied.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
