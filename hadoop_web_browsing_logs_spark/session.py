"""SparkSession factory.

The reference drives two hand-configured Hadoop jobs from ``main()``
(ProcessData.java:624-679); here one SparkSession + a lazy DataFrame DAG replaces
both jobs and the HDFS round-trip between them (ProcessData.java:659, 675).

Config choices are scale-motivated (see SCALE.md):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion — the knobs that keep one static plan valid from
  sf0.001 local tests up to a 1000-executor 100 TB run.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as long
  as it is high enough, so production configs should raise it (e.g. 2000+)
  and let AQE shrink.
- Arrow enabled: every Python-side kernel in this engine is a Pandas UDF /
  applyInPandas (batched Arrow transfer), never a row-at-a-time Python UDF.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
- ``local[n]`` defaults to the cores this process may run on
  (``SPARK_GRAFT_CPUS`` overrides), so a default session never
  oversubscribes its host.

Storage has one lifecycle: query factories keep no state across calls, and
:func:`release_caches` frees what their plans materialized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "hadoop-web-browsing-logs-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``local[cpus]`` for tests; on a cluster the master/executor settings come
    from spark-submit and everything here still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition size rather than preserving
        # default parallelism: fewer, right-sized post-shuffle tasks — the
        # setting Spark's own docs recommend on busy clusters, and measured
        # faster here (per-task scheduling overhead dominates small shuffles)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # advisory post-shuffle partition size. The 64 MB default is right on
        # a cluster (network shuffle, executor memory budgets); in single-JVM
        # local mode there is no network and the fixture shuffles are a few
        # MB, so 64 MB coalesces every post-shuffle stage to 1 task and
        # serializes the CPU-heavy verify/join stages (measured: the banded
        # MinHash-LSH pair stage runs 35% faster at 1 MB advisory, nothing
        # regresses). Local default 1 MB; clusters should keep 64 MB+ via
        # this env var or spark-submit conf (parallelismFirst=true was also
        # re-measured round 6 and is still slower across the board here).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", str(1024 * 1024)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # static conf, takes effect only on first JVM start: the default
        # whole-stage-codegen class cache (100 entries) thrashes when a
        # workload cycles through many distinct plans — the 26-query bench
        # loop alone generates several hundred codegen stages, so every
        # pass recompiled evicted classes (observed as bimodal 0.6 s / 5 s
        # timings on an otherwise-warm scalar query). 2000 entries holds the
        # whole registry's generated classes; memory cost is a few hundred
        # MB of class metadata at worst, noise next to executor heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the fixture generator has emitted events.ts as TIMESTAMP(NANOS)
        # (rounds 1-2) and TIMESTAMP(US) (round 3); the readers auto-detect
        # the unit, and this flag keeps the nanos case readable (it is a
        # no-op for micros files).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_caches(spark: SparkSession) -> int:
    """The engine's one storage-lifecycle call: drop every cached DataFrame
    (CacheManager) and unpersist every persistent RDD, which includes the
    blocks behind lazy ``localCheckpoint`` frames. Returns the number of
    persistent RDDs released.

    Query factories keep no state between calls; the checkpoints a query
    takes are shared only inside its own plan, and their blocks outlive the
    consuming action because that action happens in the caller. A
    long-lived session embedding this engine should call this between
    logical requests."""
    spark.catalog.clearCache()
    # JavaSparkContext exposes the persistent-RDD map as a java.util.Map,
    # which py4j presents dict-like
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for jrdd in rdds:
        jrdd.unpersist(False)
    return len(rdds)
