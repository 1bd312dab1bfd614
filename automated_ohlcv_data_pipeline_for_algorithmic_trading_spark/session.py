"""SparkSession factory and tuning.

Scale notes (100 TB design): every conf here is cluster-safe. AQE handles
runtime partition coalescing and skew-join splitting; UTC session
timezone pins epoch<->timestamp semantics (the reference's naive
``datetime.fromtimestamp`` is a documented parity trap, SURVEY.md SS7.2).
Partition overwrite stays at Spark's static default: a write that
replaces partitions of existing data (the reference's "can be run
multiple times safely" contract, README.md:113) asks for dynamic
overwrite as a writer option (``plans.etl.partitioned_writer``, the
streaming upsert sink, ``plans.merge``, ``plans.rollup_refresh``), so a
fresh destination commits without the dynamic staging directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe (and desirable) to set on an already-running session.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an externally-created session (e.g. the
    verification driver's). Only touches confs settable post-start.

    Idempotent per session object: every table load funnels through
    here, and re-setting ~9 unchanged confs is a py4j round-trip each —
    a few ms per call that adds up over a 271-query sweep. The sentinel
    keys on (session, requested width) so an explicit different
    shuffle_partitions still applies."""
    if getattr(spark, "_ohlcv_tuned_width", "unset") == shuffle_partitions:
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    n = shuffle_partitions or _cpus()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    except Exception:  # pragma: no cover
        pass
    try:
        spark._ohlcv_tuned_width = shuffle_partitions
    except Exception:  # pragma: no cover - frozen session object
        pass
    return spark


from contextlib import contextmanager


@contextmanager
def stateful_partitions(spark: SparkSession, n: int | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming query's
    start-up window, restoring the previous value afterwards.

    Stateful operators bake the shuffle-partition count into the state
    store layout at FIRST query start and AQE cannot coalesce stateful
    stages, so every micro-batch pays (#partitions x state-store commit +
    Python-worker spin-up) regardless of data volume. For one-shot
    availableNow replays a narrow fixed width wins outright (measured
    8.2 s -> 2.2 s on the sf0.1 stateful VWAP going 32 -> 8 partitions).
    On a real cluster, size this to target ~100-200 MB of state per
    partition and keep it STABLE across restarts — the checkpoint pins it.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(n or max(8, _cpus() // 4))
        )
        yield spark
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def get_spark(
    app_name: str = "ohlcv-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster pass
    ``master=None`` with spark-submit supplying the master. Shuffle
    partitions default to core count locally — at cluster scale set this
    (or rely on AQE coalescing) to target ~128 MB per shuffle partition.
    """
    cpus = _cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    )
    conf = dict(RUNTIME_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    conf.setdefault("spark.ui.enabled", "false")
    conf.setdefault("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    # Whole-stage-codegen compiled-class cache (STATIC conf, JVM-wide;
    # default 100 entries). A long-lived session serving many distinct
    # queries — an interactive/Thrift server, or this repo's 257-query
    # sweep — cycles far more than 100 generated classes between two
    # executions of the same query, so every re-execution re-pays Janino
    # compile + C2 warm-up for EVERY stage; the penalty scales with a
    # plan's codegen-fragment count and measured 2-2.5x on the iterative
    # minhash/components chain (8.9 s evicted vs 3.0 s retained,
    # NOTES round 10). ~5 KB/entry: 10k entries ≈ 50 MB of metaspace —
    # cheap insurance at any scale.
    conf.setdefault("spark.sql.codegen.cache.maxEntries", "10000")
    for k, v in (extra or {}).items():
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
