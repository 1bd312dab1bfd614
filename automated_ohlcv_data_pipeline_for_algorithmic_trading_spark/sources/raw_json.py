"""Bronze-zone reader: the raw OHLCV ingestion envelope.

One JSON object per 5-minute fetch (reference writer
ingestion/lambda_ingestion.py:439-452), read with the explicit nested
schema — never inference (the reference's own Glue job declares the same
schema, etl/glue_job.py:84-107). ``multiLine=True`` because each envelope
is one pretty-printed object per file; PERMISSIVE mode keeps corrupt
files visible in ``_corrupt_record`` instead of failing the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import RAW_ENVELOPE_SCHEMA


def read_raw_envelopes(
    spark: SparkSession, path: str, multi_line: bool = True
) -> DataFrame:
    """Read bronze envelope JSON files; adds ``_file`` (source path) and
    ``_file_seq`` (lexicographic max-comparable name) so downstream dedup
    can express the reference's 'process only the latest file' and
    last-wins semantics (etl/lightweight_etl.py:243-248)."""
    schema = T.StructType(RAW_ENVELOPE_SCHEMA.fields + [
        T.StructField("_corrupt_record", T.StringType()),
    ])
    df = (
        spark.read.schema(schema)
        .option("multiLine", multi_line)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return df.withColumn("_file", F.input_file_name()).withColumn(
        "_file_seq", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def write_raw_json(df: DataFrame, path: str) -> None:
    """S14 — bronze sink: append-only raw envelope JSON (the bronze zone
    is immutable history; dedup happens downstream, never by rewriting)."""
    df.select("data", "metadata").write.mode("append").json(path)


def latest_file_only(df: DataFrame) -> DataFrame:
    """ST3/dedup-before-compute: keep only rows from the lexicographically
    greatest file name — the reference's daily-ETL trick of processing only
    the newest cumulative fetch (files are supersets of earlier ones,
    etl/lightweight_etl.py:243-248). One broadcast scalar join, no shuffle
    of the data."""
    latest = df.agg(F.max("_file_seq").alias("_latest_seq"))
    return (
        df.join(F.broadcast(latest))
        .filter(F.col("_file_seq") == F.col("_latest_seq"))
        .drop("_latest_seq")
    )
