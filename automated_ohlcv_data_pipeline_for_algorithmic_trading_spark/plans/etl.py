"""Bronze -> silver ETL: the reference's core dataflow as ONE lazy
DataFrame transform.

Semantics: etl/glue_job.py:119-193 (explode map -> struct projection ->
explode candles -> positional extraction -> derived columns -> DQ filter)
with the lightweight variant's stricter ``close > 0`` gate
(etl/lightweight_etl.py:83-86 — it gates the actually-deployed data;
SURVEY.md SS7.4). Output is the 17-column silver schema
(etl/lightweight_etl.py:129-133) written as Parquet partitioned by
(symbol_clean, dt) — see schemas.SILVER_PARTITIONING for why the date
levels collapse into one Hive column.

Scale design: the whole normalize is narrow (no shuffle) — explodes and
projections pipeline inside one codegen stage per input split; the only
wide operation is the optional last-wins dedup. Partitioned writes
replace only their own partitions when re-run into existing output
(ST5) and commit statically into a fresh destination
(``partitioned_writer``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from ..functions.candles import clean_symbol, epoch_to_timestamp, iso_utc
from ..operators.dedup import dedup_by_key
from ..schemas import SILVER_PARTITIONING


def explode_envelopes(raw: DataFrame) -> DataFrame:
    """P1+P2+P3+P4: envelope -> one row per candle with positional fields.

    Mirrors etl/glue_job.py:125-158: explode the symbol map, project the
    struct, explode the candles array, extract positions 0-5.
    """
    sym = raw.select(
        F.explode("data").alias("symbol_key", "symbol_data"),
        *[c for c in ("_file", "_file_seq") if c in raw.columns],
    )
    candles = sym.select(
        F.col("symbol_data.symbol").alias("symbol"),
        F.col("symbol_data.resolution").alias("resolution"),
        F.col("symbol_data.timestamp").alias("fetch_timestamp"),
        F.explode("symbol_data.candles").alias("candle"),
        *[c for c in ("_file", "_file_seq") if c in sym.columns],
    )
    # F.get (not candle[i]): a truncated candle array yields NULLs that the
    # DQ filter drops, instead of an ANSI out-of-bounds error killing the
    # batch — malformed feed rows must degrade, not fail.
    return candles.select(
        "symbol",
        "resolution",
        "fetch_timestamp",
        F.get("candle", 0).cast("long").alias("timestamp_unix"),
        F.get("candle", 1).alias("open"),
        F.get("candle", 2).alias("high"),
        F.get("candle", 3).alias("low"),
        F.get("candle", 4).alias("close"),
        F.get("candle", 5).cast("long").alias("volume"),
        *[F.col(c) for c in ("_file", "_file_seq") if c in candles.columns],
    )


def quality_filter(df: DataFrame) -> DataFrame:
    """P5 — DQ gate: o/h/l/c non-null, high >= low, volume >= 0, close > 0
    (glue + lightweight variants combined; the close>0 strictness is the
    deployed behavior)."""
    return df.filter(
        F.col("timestamp_unix").isNotNull()
        & F.col("open").isNotNull()
        & F.col("high").isNotNull()
        & F.col("low").isNotNull()
        & F.col("close").isNotNull()
        & F.col("volume").isNotNull()
        & (F.col("high") >= F.col("low"))
        & (F.col("volume") >= 0)
        & (F.col("close") > 0)
    )


def derive_silver_columns(df: DataFrame) -> DataFrame:
    """F1-F7: symbol_clean, timestamps, calendar partition columns,
    processed_at."""
    ts = epoch_to_timestamp(F.col("timestamp_unix"))
    return (
        df.withColumn("symbol_clean", clean_symbol(F.col("symbol")))
        .withColumn("timestamp_iso", ts)
        .withColumn("year", F.year(ts))
        .withColumn("month", F.month(ts))
        .withColumn("day", F.dayofmonth(ts))
        .withColumn("hour", F.hour(ts))
        .withColumn("dt", F.date_format(ts, "yyyy-MM-dd"))
        .withColumn("processed_at", F.current_timestamp())
    )


SILVER_COLUMNS = [
    "symbol", "symbol_clean", "timestamp_unix", "timestamp_iso",
    "open", "high", "low", "close", "volume", "resolution",
    "fetch_timestamp", "year", "month", "day", "hour", "dt", "processed_at",
]


def bronze_to_silver(
    raw: DataFrame,
    dedup: str | None = "last",
) -> DataFrame:
    """The full normalize: explode -> DQ filter -> derive -> (optional)
    last-wins dedup per (symbol, ts) using the file sequence as arrival
    order (ST3: every 5-min fetch re-pulls the whole day, so raw files
    overlap massively)."""
    df = derive_silver_columns(quality_filter(explode_envelopes(raw)))
    if dedup:
        order = ["_file_seq", "fetch_timestamp"] if "_file_seq" in df.columns else ["fetch_timestamp"]
        df = dedup_by_key(df, ["symbol", "timestamp_unix"], order, keep=dedup)
    return df.select(*SILVER_COLUMNS)


def partitioned_writer(
    df: DataFrame, path: str, mode: str, *cols: str
) -> DataFrameWriter:
    """``df.write.mode(mode).partitionBy(*cols)`` with the overwrite rule
    every silver-style sink shares: replace only the written partitions
    when ``path`` already exists (the reference's idempotent re-run,
    README.md:113), commit statically when it does not.

    A fresh destination holds nothing to keep, and a dynamic commit
    there stages every file under ``.spark-staging-*`` and then makes
    one driver-serial ``mkdirs`` per partition directory at job commit.
    The mode is a writer option either way, so the rule holds whatever
    the session's ``partitionOverwriteMode`` is."""
    dynamic = mode == "overwrite" and _dest_exists(df.sparkSession, path)
    return (
        df.write.mode(mode)
        .partitionBy(*cols)
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
    )


def write_silver(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    write_parallelism: int | None = None,
) -> None:
    """S12 — partitioned Parquet sink: snappy, dictionary encoding,
    partitions committed by ``partitioned_writer``'s rule. A re-run
    into an existing silver table replaces only the symbol-days it
    writes (dynamic overwrite); a fresh destination commits statically
    with the default committer, ``_SUCCESS`` included. On the 200-file
    perfbench day batch (4 cores) the static commit writes the same
    files and bytes in 1.89 s instead of 2.68 s, with 810 instead of
    1,011 forked ``chmod`` calls (ARCHITECTURE.md).

    The reference sets AQE confs as write options where they are inert
    (etl/glue_job.py:213-214) — here session.tune() sets them correctly.

    The pre-write repartition hashes on the partition columns with an
    EXPLICIT partition count: it bounds files-per-directory (no
    small-file explosion) while keeping the write wide — a count-less
    repartition lets AQE coalesce the exchange to a handful of tasks and
    the many-directory write goes serial (measured 2.5x slower on a
    500-symbol day)."""
    n = write_parallelism or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    out = df.repartition(n, *[F.col(c) for c in SILVER_PARTITIONING])
    # time-sorted rows within each file: parquet row-group min/max stats on
    # timestamp become selective, so intraday range predicates skip row
    # groups instead of scanning whole symbol-days
    if "timestamp_unix" in df.columns:
        out = out.sortWithinPartitions(*SILVER_PARTITIONING, "timestamp_unix")
    partitioned_writer(out, path, mode, *SILVER_PARTITIONING).option(
        "compression", "snappy"
    ).parquet(path)


def _dest_exists(spark, path: str) -> bool:
    """Hadoop-FS existence probe (works for local paths and any
    configured remote FS — the same resolution the writer itself uses)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    except Exception:  # pragma: no cover - conservative: keep dynamic
        return True


def read_silver_csv(spark, path: str) -> DataFrame:
    """S5 — read the gzipped-CSV silver twin back with the EXPLICIT
    17-column schema (never inference; api/api_handler_csv.py:111-134's
    typed reader). Gzip is transparent to the CSV source. Partition
    columns (symbol_clean/dt) come from the directory layout."""
    from ..schemas import SILVER_SCHEMA
    from pyspark.sql import types as T

    # partition columns are directory-derived, not in-file
    in_file = T.StructType(
        [f for f in SILVER_SCHEMA.fields if f.name not in SILVER_PARTITIONING]
    )
    return spark.read.schema(in_file).option("header", True).csv(path)


def silver_csv_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S11 — the reference's gzipped-CSV silver twin (kept for parity;
    Parquet is the primary format)."""
    (
        partitioned_writer(df, path, mode, *SILVER_PARTITIONING)
        .option("header", True)
        .option("compression", "gzip")
        .csv(path)
    )


def run_metadata(silver: DataFrame) -> DataFrame:
    """S15 shape — the ETL run ledger row (sql/rds_schema.sql:44-68):
    row counts / distinct symbols / span, computed in one pass."""
    return silver.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct("symbol_clean").alias("symbols_count"),
        F.min("timestamp_iso").alias("first_candle"),
        F.max("timestamp_iso").alias("last_candle"),
        F.current_timestamp().alias("ingested_at"),
    ).withColumn("processing_status", F.lit("completed"))
