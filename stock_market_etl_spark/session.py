"""SparkSession factory and session-level configuration.

The engine is designed for a multi-executor cluster at ~100 TB scale but
is exercised locally on ``local[N]``. Everything scale-relevant is
expressed through session confs (AQE, shuffle width, broadcast
threshold) rather than hand-scheduling, so the same logical plans run
unchanged on a 1000-executor cluster.

Shuffle width is sized to the cluster, never a constant: an explicit
``shuffle_partitions`` argument wins, a width the session already
carries (a deployment's ``spark-defaults``, a driver's own setting) is
kept, and otherwise the width is the context's ``defaultParallelism``
— its core count. :func:`shuffle_width` is the one read every
width-sized layer uses (fan-out repartitions, clustered writes,
``spread``). Batch plans lose nothing to a narrower width, since AQE
coalesces and splits their shuffles at runtime; stateful streaming
stages run without AQE and keep one state-store instance per shuffle
partition, so there the width IS the task count of every micro-batch.
A streaming checkpoint records the width it was created with and Spark
restores it on restart, so existing checkpoints keep their width.

Reference parity notes: the reference stamps UTC timestamps at ingest
(`scripts/ingest_hourly.py:68`) and converts to US/Eastern only at
display (`scripts/app.py:213`), so the session timezone is pinned to
UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must hold for the engine's reads/plans regardless of who
# created the session (the verify driver may hand us its own session).
_RUNTIME_CONFS: dict[str, str] = {
    # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark cannot
    # map to TimestampType; read it as raw nanos and convert explicitly
    # (see io.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # cross-engine arithmetic canon (SURVEY §7 known-hard list): DuckDB
    # 1.0.0 and Polars both yield NULL-ish (not an error) on double/0;
    # Spark 4's ANSI mode raises instead. Pre-ANSI semantics (x/0 →
    # NULL) match the oracle and the reference.
    "spark.sql.ansi.enabled": "false",
    # runtime re-planning: partition coalescing, skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r16: the r15 session-wide coalescing floor (minPartitionSize
    # 1m -> 64k) is REVERTED to the default. It fixed three queries
    # whose compute-dense fan-out stages AQE had coalesced to 2 tasks
    # (x56/x57's gram explode, d11's bin join) but taxed every other
    # shuffle-bearing query with up-to-core-count micro-tasks at the
    # measured contract point (r15 driver bench: 52/65 regressed,
    # geomean 0.72; 23 queries ran FASTER on 8 cores than 32). The
    # fan-out fix is now scoped to the exchanges that need it via
    # pinned-width repartitions AQE never coalesces — see
    # operators.parallelism.fanout_width and its call sites in
    # operators.text.repetition_metrics / operators.range_join.
    # interval_overlap_pairs.
    # idempotent partition rewrites (SURVEY §2 O7/L2) overwrite only the
    # partitions present in the written frame.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Arrow for any pandas_udf / toPandas edge
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # write timestamps as INT64 micros, not legacy INT96: INT96 carries
    # NO parquet min/max statistics, so every ts-predicate scan over an
    # engine-written lake would decode row groups that footer stats
    # should have skipped (io.write_clustered's pruning depends on
    # this), and INT96 is deprecated in the parquet spec besides
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


_WIDTH = "spark.sql.shuffle.partitions"


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width: the partition count of every
    engine-sized exchange and clustered write, and the state-store
    count of a newly created streaming checkpoint."""
    return int(spark.conf.get(_WIDTH))


def prepare_session(
    spark: SparkSession, shuffle_partitions: int | None = None
) -> SparkSession:
    """Apply the engine's runtime confs and shuffle width to an
    existing session.

    Safe to call repeatedly; used by ``__spark_entry__`` because the
    driver owns session creation there. A driver's plain ``local[32]``
    session gets width 32; a width already set on the session is kept
    unless ``shuffle_partitions`` overrides it.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in some deployments; engine code
            # falls back where possible
            pass
    if shuffle_partitions is None and spark.conf.get(_WIDTH, None) is None:
        try:
            shuffle_partitions = spark.sparkContext.defaultParallelism
        except AttributeError:
            # Spark Connect has no driver-side context; the server's
            # width stands
            pass
    if shuffle_partitions is not None:
        spark.conf.set(_WIDTH, str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "stock_market_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, falling
    back to ``local[*]``) so tests and bench share one entry point.
    The shuffle width is ``shuffle_partitions`` when given, else the
    started context's ``defaultParallelism`` (see :func:`prepare_session`).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session; re-assert
    return prepare_session(spark, shuffle_partitions)
