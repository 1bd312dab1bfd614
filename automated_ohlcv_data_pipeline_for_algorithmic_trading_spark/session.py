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

    The rule is ``n`` if given, else ``min(defaultParallelism, 8)``: the
    session's real task-slot count (total executor cores on a cluster),
    capped at 8. Stateful operators bake the shuffle-partition count into
    the state-store layout at the query's first start, and AQE cannot
    coalesce stateful stages, so every micro-batch runs one task and one
    versioned state-store commit per partition whatever the data volume.
    At most one partition per slot keeps the stateful stage to one task
    wave. On the local file system each partition's commit forks
    ``chmod`` 5 times (partition directory, ``N.delta``, its Spark
    checksum file, and a Hadoop ``.crc`` sidecar for each of the two
    files), on top of 20 fixed forks per query: 25 / 30 / 40 / 60 forks
    at widths 1 / 2 / 4 / 8.

    4 cores, warm, noop sink; sf0.01 rows min / median of 8, sf0.1 row
    min of 4 (s):

    ========================  =========  =========  =========  =========
    width                     1          2          4          8
    ========================  =========  =========  =========  =========
    ``s_stateful_vwap``       1.20/1.46  1.04/1.24  0.92/1.22  1.40/1.66
    ``s_stream_hourly``       0.53/0.71  0.54/0.66  0.60/0.79  0.75/0.96
    ``s_stateful_vwap`` sf0.1 5.93       4.40       2.95       3.42
    ========================  =========  =========  =========  =========

    A fixed width of 1 or 2 starves the Python fold at volume (sf0.1
    row), hence the slot count rather than a constant. The cap of 8 keeps
    the 32-core anchor: sf0.1 stateful VWAP 9.5 s -> 2.2 s going from 32
    to 8 partitions. On a real cluster with large state, pass ``n`` to
    target ~100-200 MB of state per partition.

    A durable checkpoint keeps the width it was started with: Spark
    reads it back from the offset log on restart, whatever this context
    sets (``tests/test_stateful_streaming.py`` pins that).
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(n or min(spark.sparkContext.defaultParallelism, 8)),
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
    # Python workers unpickle package functions by name, so they need the
    # package's parent on their path whatever the driver's cwd. Appended,
    # so it shadows nothing already there.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), root) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
