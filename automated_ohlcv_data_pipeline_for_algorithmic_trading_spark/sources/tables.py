"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` — schema comes from parquet footers, filters
and projections push down into the scan. At 100 TB these would be
partitioned/bucketed tables behind a catalog; the API is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Timestamp columns whose parquet physical encoding has varied across
#: testdata generations; normalize every variant to TimestampType (LTZ):
#:  - TIMESTAMP(NANOS): Spark can't map it natively — read as raw nanos
#:    longs (spark.sql.legacy.parquet.nanosAsLong) and convert with exact
#:    integer division (double division would lose precision at 1e18 ns
#:    epochs). DuckDB truncates ns->us the same way.
#:  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
#:    under the UTC session timezone a plain cast preserves the instant
#:    and restores the TimestampType every downstream expr expects.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


#: Per-(dir, table, source stamp) parquet schema cache — METADATA only,
#: the local stand-in for a catalog (which is what serves schemas at
#: 100 TB). Without it every query invocation pays a footer-inference
#: Spark job before any real work (~0.2 s/query locally, a driver-side
#: listing + footer read at scale). Never caches rows or results; first
#: access in a process still reads the footers. The file's stamp
#: (:func:`_source_stamp`: its size and mtime) is part of the key, so a
#: table rewritten with a different schema mid-process re-infers instead
#: of silently serving the stale schema.
_SCHEMA_CACHE: dict = {}


def _source_stamp(path: str) -> tuple | None:
    """The cache-key stamp of a parquet source, or None if it must not
    be cached.

    A file is stamped by its (size, mtime).  A directory is not cached:
    its inode's size and mtime do not change when a part file is
    rewritten in place, so its schema is inferred on every load.  A path
    that cannot be stat-ed (a remote source) gets ``()``, i.e. path-only
    keying under the immutable-within-a-run contract.
    """
    import os
    import stat

    try:
        st = os.stat(path)
    except OSError:
        return ()
    if stat.S_ISDIR(st.st_mode):
        return None
    return (st.st_size, st.st_mtime_ns)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ts_cols = NANOS_TS_COLS.get(name, ())
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _source_stamp(path)
    key = (sf_dir, name, stamp)
    cached = None if stamp is None else _SCHEMA_CACHE.get(key)
    if cached is None:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(cached).parquet(path)
    dtypes = dict(df.dtypes)
    for c in ts_cols:
        if c not in df.columns:
            continue
        if dtypes[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes[c] == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
