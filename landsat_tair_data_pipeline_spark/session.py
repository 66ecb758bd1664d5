"""SparkSession factory tuned for this engine.

Local mode mirrors a multi-executor deployment: AQE on (runtime
coalescing, skew-join splitting), a bounded shuffle-partition count, and
Arrow for any pandas exchange. At cluster scale the same configs hold;
only ``master``/memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session our queries run under —
# including the driver-provided session in __spark_entry__.entry(). The
# timezone pin makes timestamp results independent of the host zone
# (DuckDB oracle timestamps are naive/UTC).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Cap the explain/UI plan STRING (not the plan itself). AQE
    # regenerates the explain string on every adaptive update, and a
    # deep persisted-funnel plan prints its nested InMemoryRelation
    # subtrees combinatorially — measured 2.9 MB of plan text and
    # ~2x the driver CPU of the capped run on llm_data_pipeline_v6
    # before its localCheckpoint cuts. The cap bounds the damage for
    # any future deep-lineage key; 64 KiB keeps real plans readable.
    "spark.sql.maxPlanStringLength": "65536",
    # NOTE: spark.sql.legacy.parquet.nanosAsLong (the events.ts
    # data-vintage shim) deliberately does NOT live here — a global
    # legacy flag changes how ANY nanos parquet reads. It is set
    # per-need by sources.tables.ensure_nanos_readable, which probes
    # the events footer first.
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable
    return spark


def get_spark(app_name: str = "landsat-tair-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # one shuffle partition per core at local scale; on a real
        # cluster this scales with executor count (or AQE coalesces).
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Tungsten page size, fixed at the floor of Spark's derived
        # default (heap / cores / 16, clamped to 1-64 MiB). Derived, it
        # is 64 MiB on a 4-core 8g driver, and every broadcast hash
        # relation takes at least one page however few rows it holds:
        # a 20-row broadcast join added 64.03 MiB to the driver's
        # storage memory, and landsat_chain held 3 x 67.1 MB of such
        # blocks (held_mem_mb 302 -> 104 MB at 1 MiB). A record larger
        # than a page still gets a page of its own size. The conf is
        # static, so tune() cannot set it: a session built elsewhere
        # (the bare one __spark_entry__ is handed) keeps Spark's
        # derived default.
        .config("spark.buffer.pageSize", "1m")
        # PySpark's per-call origin capture, on by default: every
        # pyspark.sql.functions call and Column method first looks up
        # the active session, reads a conf, walks the Python stack,
        # retries `import ipykernel` and sets then clears the JVM's
        # PySparkCurrentOrigin — about 8 extra py4j round trips per
        # call, and the plan build of a steady landsat_chain pass is
        # bound by them (3,506 -> 269 py4j calls per pass together
        # with util.recipe). What an error loses without it is the
        # Python call site in its DataFrame query context: a runtime
        # DIVIDE_BY_ZERO reads '"divide" was called from <JVM frame>'
        # instead of '"__truediv__" was called from <file>:<line>'; the
        # error class and message are unchanged. PySpark reads the conf
        # once per process, at the first Column built, so no Column may
        # be built at import. Static, like the page size: the bare
        # session __spark_entry__ is handed keeps PySpark's default.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
