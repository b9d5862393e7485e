"""SparkSession construction for the engine.

Maps the reference's context construction (src/core.rs:47-72) onto
Spark. Deliberate non-replications (SURVEY.md §0):

- ``target_partitions = 1`` (core.rs:61) is a WASM single-thread
  constraint, not a semantic — we parallelize.
- ``DiskManagerConfig::Disabled`` (core.rs:55) means the reference
  OOMs instead of spilling; Spark spills natively and we keep that ON
  (required for the 100 TB design point).

Scale posture: shuffle partitions default to the local core count for
tests/bench; on a real cluster this would be executors*cores*2-3 or
left to AQE coalescing, which is enabled here and does the right thing
at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "datafusion-wasm-bindings-spark"

# Entries in Spark's generated-class cache (static conf
# spark.sql.codegen.cache.maxEntries; Spark's default is 100). Spark
# compiles every whole-stage and expression codegen class with Janino
# and caches it JVM-wide by its source text; a class evicted before
# its next use is compiled again (on the driver and in tasks) and
# starts out interpreted until the JIT warms it again. Measured on
# 4 vCPUs at sf0.1, the full registry run twice in one session as
# tools_sweep.py does: 3128-3134 distinct classes compile on pass 1
# and 99-113 on pass 2 (classes that embed constants computed from the
# data, so they differ per run); at 100 entries the passes compile
# 4070 and 4047. Guava splits the cache into 4 independently evicting
# segments, so the size leaves ~30% over that working set. Cost after
# the two passes, 100 -> 4096 entries: driver Metaspace 231 -> 257 MB
# committed; VmRSS 4.9 -> 5.4 GB, which the heap dominates (VmHWM
# 6.0 -> 5.5 GB).
CODEGEN_CACHE_MAX_ENTRIES = 4096


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Config choices, mapped from the reference session setup
    (src/core.rs:53-62) plus oracle-parity pins:

    - UTC session timezone: DuckDB oracle timestamps are UTC-naive.
    - case-insensitive resolution: DataFusion lowercases unquoted
      identifiers (Postgres style); Spark's default case-insensitive
      matching gives the same observable behavior for our queries.
    - AQE on: runtime re-plan (broadcast conversion, skew-join split,
      partition coalescing) — the scale story for 100 TB inputs.
    - Arrow transfers on: vectorized toPandas/createDataFrame paths.
    - codegen cache sized to the engine's working set
      (``CODEGEN_CACHE_MAX_ENTRIES``).

    Static confs (the codegen cache size among them) only take effect
    when this call creates the session. When ``getOrCreate`` returns an
    existing one, e.g. the session a driver process already started,
    they keep whatever values that session was built with; runtime
    confs are applied either way.
    """
    par = shuffle_partitions if shuffle_partitions is not None else default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame-op call-site capture (PySpark 4 error enrichment)
        # walks the Python stack and makes TWO extra py4j round trips
        # per DataFrame method call. Measured r12 (guide §4: shrink the
        # Python boundary): plan construction of the construction-heavy
        # headliners halved — q_flagship_pricing_summary 0.185→0.075 s,
        # q_flagship_shipping_priority 0.187→0.107 s, q_sim_topk
        # 0.316→0.200 s per build. Costs only error-message context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default (FIXTURES.md: ns → µs policy). Read nanos as long and
        # convert to µs timestamps at the view layer (sources/catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(f"local[{default_parallelism()}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def size_scan_splits(spark: SparkSession, data_dir: str) -> int | None:
    """Size ``spark.sql.files.maxPartitionBytes`` to the data actually
    under ``data_dir``: clamp(largest_parquet / cores, 256 KB, 128 MB)
    — the 100 TB-posture sizing rule executed from the input instead
    of guessed. Spark's 128 MB default is right when files are
    executor-memory-scale; at bench SFs it scans a few-MB table as
    1-3 tasks on a 32-core box (measured 12-18% of headline
    wall-clock, BASELINE.md). At cluster scale the same formula lands
    back on the 128 MB ceiling. Row-identity under partitioning is
    the registry's tested invariant
    (tests/test_partitioning_invariance.py).

    Returns the chosen split in bytes, or None if ``data_dir`` holds
    no readable parquet (confs left untouched).
    """
    try:
        largest = max(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
    except (OSError, ValueError):
        return None
    cores = spark.sparkContext.defaultParallelism
    split = min(max(largest // max(cores, 1), 256 * 1024), 128 * 1024 * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(min(split, 256 * 1024)))
    return split
