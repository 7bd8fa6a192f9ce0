"""SparkSession factory with scale-oriented defaults.

The reference engine is single-node eager pandas (SURVEY.md §3.1); the
new engine's execution model is Catalyst + AQE. These defaults are the
ones that matter at 100 TB: AQE on (runtime coalesce + skew-join
splitting), Arrow for every JVM<->Python hand-off, bounded Arrow batch
sizes so ring-heavy geo kernels don't blow worker memory, a
shuffle-partition count sized to the local test harness and a driver
heap of half the host's RAM (a real cluster overrides both via
spark-submit conf; ``extra_conf`` overrides them here).

PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off: it costs about
ten py4j round trips per ``F.*``/Column call, and it only adds the
Python ``file:line`` to an error message (``extra_conf`` turns it on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_ARROW_BATCH = 10_000  # SURVEY.md §2.10: tuned for ring-heavy kernels


def get_spark(
    app_name: str = "osm-data-classification-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` falls back to ``$SPARK_GRAFT_MASTER`` then
    ``local[$SPARK_GRAFT_CPUS or *]`` — the bench harness uses this to
    run the identical job at two parallelism levels (local[8] vs
    local[32]) for the scaling-efficiency evidence (BASELINE.md).
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Catalyst / AQE ---------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow / pandas-UDF path ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        # --- misc -------------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # single-JVM local mode: driver heap is ALL executor memory too.
        # Half the host's RAM leaves the other half to the Python
        # workers and the OS; a bigger heap let one JVM grow past the
        # RAM of a small host until the kernel killed it.
        .config("spark.driver.memory", f"{max(2, ram_gib // 2)}g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
