"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment too: AQE handles runtime re-planning and
skew joins, shuffle partitions default to the core count locally (cluster
deployments should size ``spark.sql.shuffle.partitions`` to ~2-3× total
cores or rely on AQE coalescing), Arrow keeps any pandas-UDF exchange
vectorized, and the session timezone is pinned to UTC so timestamp semantics
are stable across engines (and match the DuckDB correctness oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: half of the host's ``MemTotal``, capped at 16g;
    16g when ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(int(line.split()[1]) for line in fh
                       if line.startswith("MemTotal:"))
    except (OSError, ValueError, IndexError, StopIteration):
        return "16g"
    return f"{min(16 << 10, kib >> 11)}m"


def get_spark(app_name: str = "db2ice-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching — essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF boundary (vectorized, batched).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # createDataFrame(pyarrow.Table) keeps the Arrow batches as an RDD
        # decoded in the JVM. Below this threshold (48 MB by default) Spark
        # builds a LocalRelation instead, which copies every row into each
        # task's plan: catalog.schema_catalog_df at 100k columns then costs
        # more CPU than parallelizing the same rows as pickled tuples.
        .config("spark.sql.execution.arrow.localRelationThreshold", "0")
        # Deterministic timestamp semantics; matches the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Reliable-checkpoint hygiene (r10, ADVICE item closed): the
        # scale.pin_boundaries seam writes one checkpoint dir per pin and
        # the iterative loops (connected components, pagerank, k-core)
        # pin every round — without the cleaner, a long-lived app with a
        # checkpoint dir configured accumulates checkpoint files
        # unboundedly. With it, the ContextCleaner deletes a pin's files
        # as soon as the checkpointed RDD is garbage-collected.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Parquet scans: vectorized reader + aggregate pushdown.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Don't let tiny local files under-parallelize wide stages.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Single-JVM local mode: driver heap IS the executor heap; size it
        # so 32 concurrent tasks don't trigger multi-second GC stalls, but
        # never past half the host's memory.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Keep stdout/stderr machine-readable: harness output (bench.py's
        # JSON line, the parity checker) is parsed from a captured tail,
        # and stage progress bars corrupt it.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
