"""SparkSession factory.

Local test profile mirrors what a 1000-executor cluster profile would
set per-executor: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow on (fast pandas interchange for the few
Pandas-UDF operators), small broadcast threshold kept at default so
dimension tables (part, nation, region, vocab) broadcast automatically.

Warm passes reuse what the first pass compiled: the generated-code
cache is sized to the measured working set (``CODEGEN_CACHE_ENTRIES``)
and a whole-stage class is named without its per-query stage id, so
the same pipeline compiles once per JVM rather than once per pass.

The reference has no session concept — it is a single pandas process
(see /root/reference/pipeline/data_preprocessing/data_prep.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes the JVM keeps compiled (Spark's default is 100).
# Measured at sf0.01 with CodegenMetrics' compile count per pass: the
# 50-entry CATALOG compiles 796 distinct classes on its first pass, a
# perfbench ``catalog`` pass 146 and a ``pipelines`` pass about 245.
# At the default every warm pass recompiled them all (145 per
# ``catalog`` pass).  At 1024, the smallest power of two above the
# catalog's set, the catalog's second pass and a warm ``catalog`` pass
# compile nothing, and a warm ``pipelines`` pass only its new
# streaming plans (3-10 classes).
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "prod2vec-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) then 32.
    ``shuffle_partitions`` defaults to the core count — at cluster scale
    this would be set to ~2-3x total cores or left to AQE coalescing.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or 32
    n = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # a whole-stage class named after its stage id differs between
        # two runs of one plan whenever AQE numbers the stages in
        # another order, and then misses the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: driver heap IS the executor heap for all 32 task
        # threads; interpreted HOF expressions allocate boxed values
        # heavily, and an undersized heap turns into a GC storm with
        # 10x run-to-run variance (measured on embedding_neardup:
        # 3s..117s at 8g, stable ~3s at 24g+)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
