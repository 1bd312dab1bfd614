"""The close-only reduced dataset (SURVEY.md SS1.2 item 3, P9/P10):
defensively-normalized (symbol, timestamp, close, volume) rows from
loosely-shaped input — the reference's ``normalize_record``
(etl/python_etl/transforms.py:10-64) as native column expressions.

Alias coalescing handles ``symbol|s|ticker``, ``timestamp|ts|time``,
``close|c|last``, ``volume|v``; the epoch-unit heuristic treats numeric
timestamps > 1e12 as milliseconds, > 1e9 as seconds, strings as ISO.
Rows missing symbol/timestamp/close are dropped (same null-out contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.candles import coalesce_aliases
from .etl import partitioned_writer

ALIASES = {
    "symbol": ("symbol", "s", "ticker"),
    "_raw_ts": ("timestamp", "ts", "time"),
    "close": ("close", "c", "last"),
    "volume": ("volume", "v"),
}


def normalize_close_only(df: DataFrame) -> DataFrame:
    """Loose input -> (symbol, timestamp, close, volume, year, month, day).

    Any subset of the alias columns may exist; missing aliases coalesce to
    NULL and the row-drop rule applies. All expressions are native (one
    narrow projection, no UDF)."""
    out = df
    for target, aliases in ALIASES.items():
        out = coalesce_aliases(out, target, aliases)
    raw = F.col("_raw_ts")
    # try_cast everywhere: defensive input must degrade to NULL, never
    # throw (Spark 4 ANSI casts raise on malformed strings)
    num = raw.try_cast("double")
    ts = (
        F.when(num.isNotNull() & (num > 1e12), F.timestamp_seconds(num / 1000.0))
        .when(num.isNotNull() & (num > 1e9), F.timestamp_seconds(num))
        .otherwise(F.try_to_timestamp(raw.cast("string")))
    )
    out = (
        out.withColumn("timestamp", ts)
        .withColumn("close", F.col("close").try_cast("double"))
        .withColumn("volume", F.coalesce(F.col("volume").try_cast("long"), F.lit(0)))
        .filter(
            F.col("symbol").isNotNull()
            & F.col("timestamp").isNotNull()
            & F.col("close").isNotNull()
        )
        .withColumn("year", F.year("timestamp"))
        .withColumn("month", F.month("timestamp"))
        .withColumn("day", F.dayofmonth("timestamp"))
    )
    return out.select("symbol", "timestamp", "close", "volume", "year", "month", "day")


def write_close_only(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Per-security partitioned parquet (etl/python_etl_job.py:82-95
    groups by security before writing; partitionBy does that for free).
    A re-run replaces only the symbol-days it writes."""
    partitioned_writer(df, path, mode, "symbol", "year", "month", "day").parquet(path)
