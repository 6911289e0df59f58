"""Session factory with the engine's scale posture baked in.

One place for the Spark configuration decisions the operators assume,
so local tests, bench runs, and cluster jobs share them:

- **AQE on** (runtime re-planning: partition coalescing, skew-join
  splitting, broadcast conversion after filters shrink a side).
- **shuffle partitions ≈ 2-3× total cores** locally; on a cluster set
  it (or leave AQE's coalescing to trim) so a post-shuffle partition
  lands in the 64-256 MB range at the target data scale.
- **maxPartitionBytes 128 MB** — scan parallelism for the 100 TB case
  comes from the file split count, not the file count.
- **UTC session timezone** — every timestamp comparison (oracles,
  cross-engine parity) assumes it.
- **Arrow enabled** for pandas UDF exchange (the minhash/attention
  kernels are Arrow-batched).
- **codegen cache of 1024 classes** (Spark's default is 100). One
  relational op (slice, stack training and predict) generates about
  310 distinct whole-stage classes and one crawl batch about 125, so
  at 100 entries every warm op recompiled about 400 of them and paid
  the compile and its JIT again. 1024 holds both working sets with
  headroom and still bounds the cache (and the metaspace its classes
  pin) in a long-lived session. A static conf: it takes effect only
  when this call creates the session.

The reference has no equivalent knob surface (single-process pandas);
this is the Spark-native replacement for its ad-hoc materialization
tactics (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# whole-stage codegen classes kept per JVM (see the module docstring)
CODEGEN_CACHE_ENTRIES = "1024"


def make_session(
    app_name: str = "deep-db-learning-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (or all cores) when no cluster master is configured.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, 2 * int(cpus)) if cpus else 64
        except ValueError:
            shuffle_partitions = 64
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        # reclaim reliable checkpoint() files once their frames are
        # GC'd — without this, cut_lineage's cluster posture (a
        # configured checkpoint dir) leaks storage across the iterative
        # operators (BFS frontiers, label propagation, streaming
        # snapshots)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
