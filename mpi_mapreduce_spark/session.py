"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may run on, one JVM) with ``$SPARK_GRAFT_DRIVER_MEM``
of driver heap (default: three quarters of physical memory); the same
configs are what we would set on a real cluster — AQE for runtime
re-planning/skew handling, shuffle partitions sized to the parallelism
at hand, Arrow for the (rare) Python-UDF paths, UTC session time so
results compare cleanly against the DuckDB oracle.

The session-wide codegen cache (``spark.sql.codegen.cache.maxEntries``)
holds 1000 compiled classes instead of Spark's 100, sized from the
measured working set (curation jobs about 214 classes, analytics jobs
55), so a warm call of a registered query reuses the classes the
session already compiled instead of re-running Janino.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB scale these numbers are set per-cluster (shuffle partitions
# ~2-3x total executor cores, maxPartitionBytes 128-256m); locally we
# match the thread count so tiny test data isn't over-parallelized.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)


def _default_driver_mem() -> str:
    """Three quarters of physical memory: the heap is only committed as
    it is used, but a maximum above what the machine has invites the
    kernel's OOM killer instead of a JVM OutOfMemoryError."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys * 3 // 4 >> 20}m"


DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

# Compiled-class working set, measured with CodegenMetrics: the
# curation jobs (dedup_canonical_corpus, pipeline_canonical_minhash,
# text_bpe_encode) need about 214 classes (175 once class names drop
# the stage id, below) and the analytics jobs 55 — 269 together, past
# Spark's default of 100, so every warm curation pass evicted and
# recompiled 123-145 of them. 1000 leaves room for the rest of the
# registry. A static SQL conf: CodeGenerator reads it once per JVM, so
# it is fixed here, at session build, and is not a caller option.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "mpi_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off: engine semantics are permissive (overflow wraps,
        # bad casts null) to match classic Spark behavior; every query
        # here is written to stay in-range anyway.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Generated class names carry the whole-stage-codegen stage id
        # by default, and AQE numbers stages in the order they become
        # ready, so the same pipeline compiled as stage 2 misses the
        # cache when a later call plans it as stage 3. Without the id,
        # the cache key is the pipeline's code alone (the id stays in
        # the generated code's comment).
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Surface parquet TIMESTAMP(NANOS) columns as epoch-nanos longs
        # instead of PARQUET_TYPE_ILLEGAL; datamodel.normalize_event_ts
        # rebuilds them. Pinned here (not as a load_table side effect)
        # so the setting is explicit session state. No-op for µs files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
