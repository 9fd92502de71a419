"""SparkSession factory with scale-oriented defaults.

The reference tunes parallelism by hand (``mapred.max.split.size``
scaled linearly with input size to hold ~147 partitions constant,
mapreducePredictionTwitter100.java:20 … 1000.java:20) and disables
locality waits in its submit script (target/automate.sh:8). The new
engine replaces all of that with AQE: runtime partition coalescing,
skew-join splitting, and dynamic join-strategy selection, configured
once here.

Heavy-tailed graph degrees and hot aggregation keys (SURVEY §4.2) are
handled by ``spark.sql.adaptive.skewJoin`` rather than manual salting
in the default path; operators that need deterministic salting (e.g.
the similarity cross-join) do it explicitly.

Every intermediate an operator reuses is materialized through
:func:`materialize`, so the caching policy lives here too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Shuffle partition count: ~cores for local testing. On a real cluster
# this is overridden by the submitter (or left to AQE's coalescing,
# which makes the initial number a ceiling, not a target).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_session(app_name: str = "mapreduce_experiment_spark",
                cpus: str | int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    All scale-relevant settings live here so every operator sees the
    same execution environment:

    - AQE on (coalesce + skew-join + dynamic join selection) — replaces
      the reference's manual split-size sweep (BASELINE.md).
    - Arrow on — every Pandas UDF path is Arrow-batched.
    - UTC session timezone — required for DuckDB-oracle comparability
      (DuckDB timestamps are UTC-naive).
    - shuffle.partitions ≈ cores locally; AQE coalesces below it.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The driver's events.parquet stores TIMESTAMP(NANOS), which
        # Spark rejects by default (PARQUET_TYPE_ILLEGAL). Read nanos
        # as raw int64; sources.tables converts to a real timestamp
        # (integer µs arithmetic — the data is µs-aligned).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` checkpointed: its rows computed once, its lineage cut.

    A reliable ``checkpoint`` when the SparkContext has a checkpoint
    dir (``sparkContext.setCheckpointDir``; on a cluster, shared
    storage), so the rows survive the loss of the executor that
    computed them. Otherwise a ``localCheckpoint``: the blocks live on
    the executors and are lost with them.

    Either way nothing is registered in the SQL CacheManager. The
    blocks belong to the returned DataFrame and the ContextCleaner
    frees them once it is garbage-collected, so there is no
    ``unpersist`` to call and no ``count()`` to fill a cache.

    ``eager=True`` runs a job now: use it when the table must exist
    before the next step (its row count is read, or several jobs or
    concurrent stages read it). ``eager=False`` materializes it inside
    the first action that reads it, which saves a job when every
    consumer sits in one action (under AQE the call still runs the
    plan's shuffle-map stages, to build the RDD).

    A checkpoint's plan carries the optimizer's size estimate, not the
    measured bytes a ``persist`` reports, so a decision on a table's
    actual size (``connected_components``' driver path) persists it
    instead.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
