"""SparkSession factory tuned for scale-out execution.

The reference pins ``spark.sql.shuffle.partitions`` to a magic number
(default 2 — see reference listings/mls_listings_curated.py:41,428);
we instead lean on AQE to coalesce/split shuffle partitions at
runtime, which is the setting that survives a 100x scale-up without
retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "etl-pipeline-4handling-listings-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    - AQE on: runtime shuffle-partition coalescing + skew-join
      splitting replace hand-tuned partition counts.
    - Arrow on: every pandas interchange (``mapInPandas`` /
      ``applyInPandas`` / ``toPandas``) moves columnar batches, not
      pickled rows.
    - UTC session timezone: deterministic date/timestamp semantics
      regardless of host zone.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local-mode sizing (guide §5): the driver JVM hosts EVERY
        # executor thread, so `local[32]` means 32 concurrent tasks'
        # shuffle/aggregation state share this one heap. 8g starved
        # execution memory on the biggest aggregates (the 27M-row
        # wedge census ran 6.0 s MIN / 15 s worst warm; 3.5 s / halved
        # variance at 16g; quality-dedup 4.6 s -> 2.2 s). 16g is 12.5%
        # of the 128 GiB box. On a real cluster this knob maps to
        # executor memory and is sized per §5, not from this default.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the generated-code cache is an LRU of compiled classes,
        # default 100. Counted with CodegenMetrics' compilation
        # histogram under an unbounded cache, one daily load (curated,
        # history, backfill, Delta DML) generates 224 distinct classes
        # and perfbench's registry mix 151: at 100 every steady-state
        # pass recompiled ~190 / ~120 of them (Janino plus JIT work on
        # the fresh bytecode). 512 holds both sets in one session.
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
