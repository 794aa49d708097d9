"""SparkSession factory tuned for the KG-construction workload.

Settings are chosen for the 100 TB design point (AQE on, skew-join handling
on, Arrow for every pandas UDF) while remaining correct on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "jcpg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the core count — on a real cluster this
    would be ~2-3x total cores; AQE coalesces either way.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[k] -> k; local[*] -> cpus
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: fewer python<->JVM round trips through the
        # mention-detection mapInPandas (A/B at 6.3M turns: -17% at 4 cores,
        # -8% at 1; per-core scaling of the phase 0.89 -> 0.98). Rows here
        # are ~100 B; jobs over LARGE binary payloads (multimodal media)
        # should override this down so a batch stays executor-memory-sized.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("JCPG_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4's DataFrame-debugging hook wraps EVERY Column/DataFrame
        # API call with a Python stack walk plus extra py4j round trips to
        # record the call site for error messages. On plan-construction-heavy
        # code (the fused KG emitters build hundreds of expression nodes)
        # that is 3x the driver-side build wall (cfg_triples 1.45s -> 0.48s
        # measured) — pure serial time a cluster pays once per query but at
        # every parallelism level alike. Off by default here; re-enable via
        # extra_conf when chasing a cryptic analysis error.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Whole-stage-codegen class cache (static: read once at JVM start).
        # Measured at local[4]: a cold run_pipeline generates 216 distinct
        # classes, a following append_conversations 198 more and one pass
        # over the query templates 91 more. At the default 100 entries the
        # LRU, walked in the same order by every build, missed on every
        # class: each warm build recompiled ~217 classes with Janino and
        # the JIT warmed the fresh classes again. 1024 holds a build, an
        # append and the query templates; a repeated build compiles 0.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to executor python workers (spark-submit --py-files
    # equivalent for programmatic sessions) — see packaging.py.
    from jcpg_spark.packaging import ship_package

    ship_package(spark)
    return spark
