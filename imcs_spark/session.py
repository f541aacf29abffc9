"""SparkSession construction with engine defaults.

The reference engine (knizhnik/imcs) gets its performance from columnar
storage + tile-vectorized execution + an intra-query thread pool
(reference: imcs.c:2005-2035, threadpool.c). On Spark all three are
native (Parquet + whole-stage codegen + partitioned execution); the one
thing we must do is configure the session sanely:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- shuffle partitions sized to the cluster (env-overridable)
- UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (DuckDB timestamps are UTC-naive)
- Arrow enabled for the few pandas-UDF operators (recurrences)
- a generated-code cache that holds the engine's working set, so
  repeated statements reuse their compiled classes
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "imcs-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In a real deployment the master/memory come from spark-submit; only
    SQL-level settings are pinned here so they survive cluster mode.
    ``extra_conf`` lets batch entry points (bench.py) layer
    process-specific settings (UI retention, heap) without changing
    library defaults.
    """
    cpus = default_parallelism()
    on_cluster = bool(os.environ.get("SPARK_GRAFT_ON_CLUSTER"))
    if shuffle_partitions is None:
        # On a real cluster the submitting machine's cpu count says
        # NOTHING about executor capacity — pinning shuffle.partitions
        # to it (e.g. 8 from a gateway box) would cap every shuffle at
        # 8 tasks for the whole session, and AQE only coalesces DOWN.
        # Inherit spark-submit / cluster defaults there; size from the
        # local cpu count only in local mode (or when the operator set
        # SPARK_GRAFT_CPUS explicitly).
        if on_cluster and "SPARK_GRAFT_CPUS" not in os.environ:
            shuffle_partitions = 0  # leave unset
        else:
            shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long and convert at load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cached-scan batch size: 64k rows per in-memory columnar batch
        # instead of the 10k default — fewer per-batch dispatches per
        # task and longer whole-stage-codegen runs over the cache.
        # Measured on the 6M-row prepared-plan scan battery: ~15%
        # lower exec latency, identical results; memory per batch
        # stays bounded (64k rows x column width). Cache COMPRESSION
        # stays on: turning it off bought another ~5% here but halves
        # effective cache capacity, the wrong trade at cluster scale.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
        # generated-class cache: 2000 entries instead of the 100
        # default. The cache is JVM-wide and LRU, so a session cycling
        # more distinct classes than it holds evicts each one before
        # its next use and every repeat pays Janino again, then runs
        # cold, unJITted code. Measured working sets: a dashboard
        # session about 200 classes (109-136 compiles, 0.5-0.8 s, per
        # cycle at 100 entries), an ingest session about 155, one pass
        # over the 50-query registry at sf0.01 1444 (a second pass: 493
        # compiles at 100 entries, none at 2000). Retained classes cost
        # little: 335 MB non-heap after a registry pass vs 327 MB.
        # Static conf: only the session that starts the JVM applies it.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
        # r13 additionally floored AQE's partition coalescing at the
        # session parallelism (adaptive.coalescePartitions.
        # minPartitionNum = cpus). REMOVED in r14 (verdict item 1): the
        # blanket floor turns every tiny post-shuffle stage into a
        # cpus-task stage — the official 32-core bench measured its
        # fixed-work shuffle floor +32% while the floor's claimed wins
        # (stretch-6M, LSH star) re-measured FLAT in an interleaved
        # same-session A/B (off/on 0.98-1.07x, min-of-3 on every
        # workload the r13 conf targeted; the probe script and its log
        # are tools/ab_floor.py and plans/r14/ab_floor1.log at commit
        # 4628efa). Operators
        # whose downstream narrow stages are compute-heavy restore
        # parallelism locally via dedup.spread-style guarded
        # repartitions instead of a session-wide tax (guide §1.2:
        # config is the LAST lever, not the first).
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    if not on_cluster:
        # Local mode only; cluster deployments take memory from
        # spark-submit. 8g measured best here: larger heaps (tried 48g)
        # lengthen GC over the accumulated cache blocks without
        # improving scan or shuffle times, and a smaller
        # maxPartitionBytes (tried 16m) adds task-scheduling overhead
        # on small files with no measurable query win.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        builder = builder.master(f"local[{cpus}]").config("spark.driver.memory", mem)
    return builder.getOrCreate()
