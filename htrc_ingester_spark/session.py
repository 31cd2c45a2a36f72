"""SparkSession builder tuned for this engine.

Local-mode testing defaults; the same configs are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE, Arrow, skew join).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession


@contextmanager
def static_plan(spark: SparkSession):
    """Run enclosed ACTIONS with AQE disabled, restoring the flag
    after. Iterative operators with bounded, known-small per-round
    state (Bellman-Ford rounds, kNN ring expansion in the
    pinned-broadcast regime) are the anti-case for adaptive execution:
    every round's shuffle becomes a materialize-then-replan query
    stage — a scheduled job each — and there is nothing for the
    replanner to learn. Measured: raster cost-distance 6.1→4.7 s cold.
    Conf is session-global for the duration: the engine is
    single-driver by design; callers running concurrent queries from
    other threads should not wrap them in this."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# Catalyst reports Long.MaxValue bytes for any plan it cannot size (every
# frame built from a Python list or an RDD); Project stats then scale that
# sentinel by column width (a 2-of-3-column projection reports ~6.9e18), so
# everything from one exbibyte up is read as "unknown", not as a real size.
_UNKNOWN_BYTES = 1 << 60

FORCE_DISTRIBUTED = "spark.htrc.forceDistributed"


def plan_bytes(df) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes — no action, no
    scan (parquet sources report real footer sizes; a frame that
    optimizes to empty reports 0). ``None`` when the stats raise or
    carry the unknown-size sentinel."""
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (AttributeError, Py4JError):  # no JVM plan, or stats raised
        return None
    return None if est >= _UNKNOWN_BYTES else est


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as the session's
    SQLConf parses it (-1 = broadcast disabled)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def fits_driver(spark: SparkSession, size: int | None, budget: int) -> bool:
    """The one regime gate every dual-regime operator decides through:
    True picks the bounded regime (collect to the driver, or pin a
    broadcast), False the scalable distributed/shuffle one.

    An unknown ``size`` (None) takes the scalable regime; a ``budget``
    of 0 or less never fits, not even an empty input; and the session
    conf ``spark.htrc.forceDistributed=true`` forces the scalable
    regime everywhere (the parity tests' switch, and the setting for a
    cluster whose driver must hold nothing)."""
    return (
        size is not None
        and 0 < budget
        and size <= budget
        and spark.conf.get(FORCE_DISTRIBUTED, "false").strip().lower() != "true"
    )


def materialize(df, eager: bool = True):
    """Materialize one round of an iterative operator AND truncate its
    plan (the loops below reference the previous state twice, so an
    un-truncated analyzed plan doubles per round and Catalyst itself
    stalls — persist() caches data but not the plan).

    Two regimes, chosen by configuration, same semantics:

    - ``localCheckpoint(eager)`` (default): blocks live in executor
      storage. Fast — no DFS write — but NOT fault-tolerant: on a real
      cluster, losing an executor mid-loop loses its blocks and fails
      the job instead of recomputing. Right for local mode and for
      short loops where a rare retry-from-scratch is acceptable.
    - reliable ``checkpoint(eager)``: used when a checkpoint dir is
      configured, either via ``SparkContext.setCheckpointDir`` or the
      engine conf ``spark.htrc.checkpointDir`` (applied here on first
      use). Blocks go to the fault-tolerant dir (HDFS/S3 on a
      cluster), so executor loss recomputes only the lost tasks. This
      is the 1000-executor deep-iteration setting; costs one DFS
      round-trip per round. Reliable checkpoint files are NOT deleted
      by Spark unless ``spark.cleaner.referenceTracking
      .cleanCheckpoints=true`` (a context-start conf — get_spark sets
      it; sessions built elsewhere must set it themselves or clean the
      checkpoint dir externally, or a long 50-round loop strands 50
      full state copies on the DFS).

    Used by knn_join_many's ring-expansion loop, dissolve's
    pointer-jumping CC loop, and graph.shortest_paths' periodic
    lineage cuts.
    """
    if reliable_checkpoint_configured(df.sparkSession):
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def reliable_checkpoint_configured(spark: SparkSession) -> bool:
    """True iff reliable checkpointing is available: a checkpoint dir
    was set via ``SparkContext.setCheckpointDir`` or the engine conf
    ``spark.htrc.checkpointDir`` (applied to the context here on first
    use)."""
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        conf_dir = spark.conf.get("spark.htrc.checkpointDir", None)
        if conf_dir:
            sc.setCheckpointDir(conf_dir)
    return sc.getCheckpointDir() is not None


def get_spark(
    app_name: str = "htrc_ingester_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'. Shuffle partitions
    default to the core count — at cluster scale this would be set to
    2-3x total executor cores instead.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        sp = shuffle_partitions or (int(env) if env else 32)
    else:
        master = f"local[{cores}]"
        sp = shuffle_partitions or cores

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # reliable checkpoint() blocks (materialize() when
        # spark.htrc.checkpointDir is set) are never deleted without
        # this: the ContextCleaner then removes each round's files
        # when its RDD is GC'd, instead of accumulating one full
        # state copy per iteration round on the DFS forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches: the refine/phash UDFs are vectorized
        # numpy — per-batch overhead dominates at the 10k default
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # bytes-heavy tables: default 128m splits under-parallelize the
        # Python decode stages (a 1 GB binary column = 8 tasks on 32
        # cores; measured 4.6x slowdown). 16m keeps every worker fed;
        # at cluster scale revisit per-table via files.maxPartitionBytes
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
