"""SparkSession factory with scale-minded defaults.

Defaults chosen for correctness + 100 TB readiness:
- AQE on (runtime coalesce, skew-join splitting, join-strategy switch)
- UTC session timezone (oracle comparisons and cross-engine determinism)
- Arrow for any pandas interchange
- shuffle partitions sized from env (local test) — on a real cluster AQE
  coalesces the 32 local partitions or grows from the configured target
- a generated-class cache that holds a whole pipeline's compiled classes,
  so repeated passes do not recompile them
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # parquet scans: keep row-group pruning + pushdown on (defaults, explicit)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.csv.filterPushdown.enabled": "true",
    "spark.ui.enabled": "false",
    # driver testdata uses TIMESTAMP(NANOS) parquet fields, which Spark
    # rejects by default; read them as raw nano longs and convert
    # explicitly at the loader (sources keep micros semantics)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # compiled generated classes kept per JVM (LRU). Spark's 100 is below
    # one corpus_dedup pass (~200 distinct classes), so every pass
    # recompiled ~196 of them; 1000 is over 4x the largest measured working
    # set and stays bounded for long-lived sessions (DECISIONS.md)
    "spark.sql.codegen.cache.maxEntries": "1000",
    # ...and keyed by code alone: with the whole-stage id in the class
    # name, a plan whose stages AQE numbers in another order (it numbers
    # them as they finish) missed the cache
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "caf-tower-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
