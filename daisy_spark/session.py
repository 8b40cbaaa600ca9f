"""SparkSession factory and settings shim.

The reference tunes execution with settings like ``max_threads``,
``max_block_size``, ``max_bytes_before_external_group_by``
(reference: src/Core/Settings.h).  On Spark those map to session confs;
this module centralizes the ones that matter for a large cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  replaces the reference's JoinSwitcher / two-level-hash heuristics.
- Arrow on for any pandas-UDF path.
- UTC session timezone: the reference stores DateTime in UTC seconds;
  keeping Spark in UTC makes date arithmetic match the DuckDB oracle.
- Shuffle partitions default to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly moot.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Settings shim: reference setting name -> (spark conf, transform).
# (reference: src/Core/Settings.h — max_threads, max_block_size, ...)
SETTINGS_MAP = {
    "max_threads": ("spark.sql.shuffle.partitions", str),
    "max_memory_usage": ("spark.sql.adaptive.advisoryPartitionSizeInBytes", str),
}

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # OptimizeOneRowPlan drops a top-level ORDER BY when it re-runs over
    # materialized query stages (wrong results, not just order noise:
    # the user's sort silently disappears on re-executed plans).  Keep
    # the static-optimizer copy; exclude only the adaptive re-run.
    "spark.sql.adaptive.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.OptimizeOneRowPlan",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # NOTE: leave spark.sql.files.openCostInBytes at its 4m default — an A/B
    # at sf0.1 showed fanning small files into 32 splits costs more in task
    # scheduling than the parallel scan saves (geomean 0.35→0.42 s); at
    # cluster scale maxPartitionBytes governs split sizing anyway
    "spark.sql.files.maxPartitionBytes": "128m",
    # dims (region/nation/supplier) stay broadcast even at large SF
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # our query shapes are agg-heavy; partial aggregation pushdown helps
    "spark.sql.parquet.aggregatePushdown": "true",
    # track the ACTUAL local core budget ($SPARK_GRAFT_CPUS — the bench
    # also runs at reduced core counts), not the machine's: shuffle
    # parallelism should follow the execution slots, and on a real
    # cluster AQE coalescing makes the initial number mostly moot
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)
    ),
    # test data carries TIMESTAMP(NANOS) parquet columns which Spark has no
    # native type for; read as long and convert at the catalog layer
    # (catalog.normalize_nanos converts them to µs timestamps)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # PySpark wraps every functions.* and Column call so that an error
    # can name the Python line that built the failing expression: each
    # call walks the Python stack, tries to import IPython and makes ~4
    # Py4J calls (F.lit(s).cast(t) 1.2 -> 0.45 ms per call when off, on a
    # 4-core box).  Off, a DataFrame error's context loses only that
    # Python call site; the query, the plan and the JVM stack are
    # unchanged.  PySpark reads this once per process, from the first
    # session active at a Column call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "daisy_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[N]`` using all cores when no cluster
    master is configured; on a real cluster leave it unset and submit
    with spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
        builder = builder.master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_settings(spark: SparkSession, settings: dict[str, object]) -> None:
    """Apply reference-style settings to a live session (best effort)."""
    for name, value in settings.items():
        mapped = SETTINGS_MAP.get(name)
        if mapped:
            spark.conf.set(mapped[0], mapped[1](value))
