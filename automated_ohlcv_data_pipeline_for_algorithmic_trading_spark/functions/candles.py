"""Scalar column helpers (SURVEY.md SS2.3, F1-F14).

All are native Column expressions — JVM-side, whole-stage-codegen'd; no
Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def clean_symbol(symbol: ColumnOrName) -> Column:
    """F1 — strip exchange prefix / series suffix: ``NSE:RELIANCE-EQ`` ->
    ``RELIANCE`` (semantics of reference etl/glue_job.py:172)."""
    return F.regexp_replace(_col(symbol), r"NSE:|\-EQ", "")


def normalize_symbol(symbol: ColumnOrName) -> Column:
    """F2 — canonicalize user input (api/api_handler.py:592-612): upper +
    trim; anything already exchange-qualified (contains ':') passes
    through unchanged — even without '-EQ'; bare names become
    ``NSE:{name}-EQ`` (or ``NSE:{name}`` when '-EQ' was already given)."""
    s = F.upper(F.trim(_col(symbol)))
    bare = F.when(
        s.endswith("-EQ"), F.concat(F.lit("NSE:"), s)
    ).otherwise(F.concat(F.lit("NSE:"), s, F.lit("-EQ")))
    return F.when(s.contains(":"), s).otherwise(bare)


def epoch_to_timestamp(epoch: ColumnOrName) -> Column:
    """F3 — epoch seconds -> TimestampType. Session TZ is pinned UTC by
    session.tune(), which replaces the reference's local-TZ
    ``datetime.fromtimestamp`` ambiguity (etl/lightweight_etl.py:60)."""
    return F.timestamp_seconds(_col(epoch).cast("long"))


def epoch_any_unit(ts: ColumnOrName) -> Column:
    """P10 — heuristic epoch-unit detection: numeric > 1e12 is millis,
    > 1e9 is seconds (etl/python_etl/transforms.py:27-39)."""
    c = _col(ts).cast("double")
    return F.when(c > 1e12, F.timestamp_seconds(c / 1000.0)).otherwise(
        F.timestamp_seconds(c)
    )


def iso_utc(ts: ColumnOrName) -> Column:
    """F6 — ISO-8601 'Z' formatting."""
    return F.date_format(_col(ts), "yyyy-MM-dd'T'HH:mm:ss'Z'")


def price_change_cols(df: DataFrame, open_col: str = "open", close_col: str = "close",
                      high_col: str = "high", low_col: str = "low") -> DataFrame:
    """F8 — derived price columns with the zero-open guard (the lightweight
    analytics variant guards division by zero,
    analytics/lambda_analytics_lightweight.py:136 — we always guard)."""
    o, c, h, low = (F.col(x) for x in (open_col, close_col, high_col, low_col))
    return (
        df.withColumn("price_change", c - o)
        .withColumn(
            "price_change_percent",
            F.when(o != 0, (c - o) / o * 100.0).otherwise(F.lit(0.0)),
        )
        .withColumn("daily_range", h - low)
        .withColumn(
            "volatility_percent",
            F.when(o != 0, (h - low) / o * 100.0).otherwise(F.lit(0.0)),
        )
    )


def coalesce_aliases(df: DataFrame, target: str, aliases: Sequence[str]) -> DataFrame:
    """P9 — defensive field coalescing over alias columns that may not
    exist in the input (``symbol|s|ticker`` etc.,
    etl/python_etl/transforms.py:17-43)."""
    present = [a for a in aliases if a in df.columns]
    if not present:
        return df.withColumn(target, F.lit(None).cast("string"))
    expr = F.coalesce(*[F.col(a) for a in present])
    return df.withColumn(target, expr)
