"""Session factory (SURVEY.md §2.1 S3).

The reference builds its session inline with fixed memory/core configs
(reference main.py:15-21) and no tuning — no AQE, no explicit shuffle
partitioning, no Arrow. This factory turns those on by default:

- AQE (runtime partition coalescing + skew-join splitting) so plans
  re-optimize from real shuffle statistics — the single most important
  knob for the 100 TB target, where static partition counts are wrong;
- Arrow for the pandas-UDF / toPandas edges;
- a shuffle width that equals the session's task slots
  (``sparkContext.defaultParallelism``, the width
  ``sources.readers.ensure_scan_width`` restores) unless the caller,
  ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` or an ``extra_conf`` entry names
  one — see :func:`shuffle_width`. Batch plans only start there (AQE
  coalesces from it), but stateful streaming never coalesces: every
  micro-batch opens, writes and commits one state store per shuffle
  partition, so a width above the core count is pure per-batch
  overhead (measured on a 4-core box: 32 state partitions cost the
  two-drop stream benchmark ~2.5x its wall clock at 4). A checkpoint
  records its state width at first start and keeps it on restart.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def shuffle_width(
    task_slots: int,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> int:
    """The session's ``spark.sql.shuffle.partitions``: an ``extra_conf``
    entry wins, then the ``shuffle_partitions`` argument, then
    ``$SPARK_GRAFT_SHUFFLE_PARTITIONS``; otherwise the session's task
    slots, so a ``local[32]`` session runs 32 and a 4-core one 4."""
    if SHUFFLE_PARTITIONS in (extra_conf or {}):
        return int(extra_conf[SHUFFLE_PARTITIONS])
    if shuffle_partitions is not None:
        return shuffle_partitions
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or task_slots)


def get_spark(
    app_name: str = "flight-delays-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver harness contract)
    falling back to ``*``. The shuffle width is sized for the local
    harness by :func:`shuffle_width`: one partition per task slot
    unless ``shuffle_partitions``, ``$SPARK_GRAFT_SHUFFLE_PARTITIONS``
    or ``extra_conf`` names one. Stateful streaming is why it follows
    the slots: a streaming aggregation keeps one state store per
    shuffle partition and AQE never coalesces it, so each micro-batch
    pays for every store whether or not a core is free to run it.
    All settings are conf-level so a cluster deployment can override
    them via spark-submit.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        # ANSI is the Spark 4 default, but several NULL-domain guards
        # (e.g. functions.text shingle guards) and every oracle-parity
        # hash were certified under ANSI semantics — pin it so a
        # cluster-level spark.sql.ansi.enabled=false override cannot
        # silently swap sizeOfNull/cast/divide behavior underneath them.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition coalescing keeps parallelismFirst semantics but
        # clamps the per-partition target at minPartitionSize (default
        # 1m). In the CPU-bound/small-bytes regime — dedup signatures,
        # shingle joins, regex scoring, anything where a partition's
        # ROWS are expensive but its BYTES are few — that 1 MB floor
        # coalesces the shuffle to one or two reducers and serializes
        # every downstream stage (measured r12 at sf0.1: q32 -45%,
        # q34 -40% from lifting it to "1b"). Round-13 re-measurement
        # REVERSED that verdict: the r12 A/B predates the
        # ensure_scan_width guards, which moved the expensive per-row
        # work ahead of the first exchange — with the guards in place a
        # JIT-warmed interleaved A/B over all 21 headline queries shows
        # "1b" WORST on every one (totals: 1b 15.31s, 64k 11.82s,
        # 256k 12.12s at sf0.1) because sub-64KB reducers are pure
        # task-scheduling overhead. 64k keeps the CPU-bound wins (the
        # guards, not the floor, now carry them), restores a sane
        # tiny-task floor, and at scale binds even less often than the
        # stock 1m (the floor is irrelevant whenever per-core shuffle
        # bytes reach the 64 MB advisory — any real 100 TB shuffle).
        # Env-overridable either direction.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims here are tiny; on a cluster raise/lower per executor memory
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet carries TIMESTAMP(NANOS), which the Spark
        # vectorized reader rejects outright; read as epoch-nanos longs
        # and let sources.readers rebuild proper timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # task slots are only known once the context runs (local[*])
    width = shuffle_width(
        spark.sparkContext.defaultParallelism, shuffle_partitions, extra_conf
    )
    spark.conf.set(SHUFFLE_PARTITIONS, str(width))
    return spark


def release_caches(spark: SparkSession) -> int:
    """Unpersist every cached RDD/DataFrame block in the session.
    Returns the number of RDD-level persists swept AFTER the catalog
    cache clear (usually 0 — DataFrame persists are dropped by
    clearCache itself).

    Cache-lifetime policy: operators that RETURN a lazy DataFrame may
    persist() intermediates the result reads more than once (banded
    MinHash candidates, PQ code relations, shingle sets); they cannot
    unpersist before the caller materializes, so THE CALLER OWNS the
    cache lifetime. One-shot callers (bench sweeps, the driver's
    correctness loop, notebook sessions running many unrelated queries)
    should call this between queries so cached blocks from query N
    don't occupy (or spill under) memory during query N+1. Iterative
    operators that materialize internally (pagerank, connected
    components, k-means) already unpersist their own loop state and
    don't need this.
    """
    # clearCache() drops CacheManager entries (DataFrame-level persists,
    # including marked-but-unmaterialized ones, so later identical plans
    # don't silently resolve to InMemoryRelation); the RDD sweep then
    # catches RDD-level persists CacheManager doesn't track.
    spark.catalog.clearCache()
    sc = spark.sparkContext
    rdds = list(sc._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    return len(rdds)
