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
  ``sources.readers.ensure_scan_width`` restores) unless an
  ``extra_conf`` entry or the deployment's SparkConf names one — see
  :func:`shuffle_width`. Batch plans only start there (AQE coalesces
  from it), but stateful streaming never coalesces: every
  micro-batch opens, writes and commits one state store per shuffle
  partition, so a width above the core count is pure per-batch
  overhead (measured on a 4-core box: 32 state partitions cost the
  two-drop stream benchmark ~1.9x its pass time at 4, 6.9 s against
  3.6 s; ~2.2x under Spark's default checkpoint manager below, whose
  forks grow with the width). A checkpoint records its state width at
  first start and keeps it on restart;
- a generated-code cache (``spark.sql.codegen.cache.maxEntries``) of
  4096 classes, above the registry's working set. Spark's stock 100
  entries hold less than one pass over the 21 headline queries (~335
  classes) or the registry (~2,800): the cache is an LRU, a pass visits
  its queries in a cycle, so nearly every lookup missed and every warm
  pass recompiled its classes with Janino, which the JIT then compiled
  again. The conf is static: it binds only when set before the JVM's
  first codegen;
- a streaming checkpoint manager that renames with rename(2)
  (``FileSystemBasedCheckpointFileManager``). Every checkpoint write
  (offset, commit and file-source logs, metadata, each state-store
  delta) lands by renaming a temporary file. Spark's default
  FileContext manager checks each rename's paths through
  ``RawLocalFileSystem``'s link-status call, which forks one
  ``readlink`` process per path when no native Hadoop library is
  loaded: about 560 per pass of the two-drop stream benchmark at 4
  state partitions, growing with state partitions x micro-batches.
  Locally both managers end in an atomic rename(2); the forks were
  the difference. Traced stream benchmark on a 4-core box, default
  manager -> this one: state commit 374 -> 19 ms, write-ahead-log
  commit 37 -> 9 ms, offset commit 40 -> 12 ms, median micro-batch
  594 -> 343 ms. The default manager's atomic overwrite matters on
  HDFS, so a cluster session keeps it (ARCHITECTURE §13).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def shuffle_width(task_slots: int, conf: dict[str, str] | None = None) -> int:
    """The session's ``spark.sql.shuffle.partitions``: the width ``conf``
    (``extra_conf`` over the context's SparkConf) names, otherwise the
    session's task slots, so a ``local[32]`` session runs 32 and a
    4-core one 4."""
    return int((conf or {}).get(SHUFFLE_PARTITIONS) or task_slots)


def get_spark(
    app_name: str = "flight-delays-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver harness contract)
    falling back to ``*``. The shuffle width is sized for the local
    harness by :func:`shuffle_width`: one partition per task slot
    unless ``extra_conf`` or the SparkConf (spark-submit ``--conf``,
    ``spark-defaults.conf``) names one. Stateful streaming is why it
    follows the slots: a streaming aggregation keeps one state store per
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
        # AQE's coalescing floor: the stock 1m serialized CPU-bound,
        # small-byte shuffles onto one or two reducers, and 1b made
        # sub-64KB reducers pure scheduling overhead (the slowest
        # setting on every headline query, r13 A/B). 64k sits between;
        # at scale it binds less often than the stock 1m.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # above the registry's generated classes (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # checkpoint renames by rename(2), no readlink fork (module docstring)
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
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
    sc = spark.sparkContext
    conf = {SHUFFLE_PARTITIONS: sc.getConf().get(SHUFFLE_PARTITIONS)}
    width = shuffle_width(sc.defaultParallelism, {**conf, **(extra_conf or {})})
    spark.conf.set(SHUFFLE_PARTITIONS, str(width))
    return spark


def release_caches(spark: SparkSession) -> int:
    """Unpersist every cached RDD/DataFrame block in the session.
    Returns the number of RDD-level persists swept AFTER the catalog
    cache clear (usually 0 — DataFrame persists are dropped by
    clearCache itself).

    Cache-lifetime policy: operators that RETURN a lazy DataFrame may
    persist() intermediates the result reads more than once (the shingle
    sets of jaccard_pairs, jaccard_pairs_prefix and minhash_near_dups,
    banded MinHash and blocked SimHash signatures, PQ code relations);
    the two-relation shingle operators persist nothing. They cannot
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
