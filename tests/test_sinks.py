"""Commit contract of the partitioned sinks (S11, S12, S13, ST5) and of a
plain ``mode("overwrite").partitionBy`` write on the tuned session."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.close_only import (
    normalize_close_only,
    write_close_only,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
    bronze_to_silver,
    read_silver_csv,
    silver_csv_sink,
    write_silver,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
    write_mock_envelope_files,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
    read_raw_envelopes,
)


def test_overwrite_partitioned_rebuild_drops_stale_partitions(spark, tmp_path):
    """A ``mode("overwrite").partitionBy(...)`` write on the ``get_spark``
    session replaces the whole directory: a rebuild into a directory
    left by an earlier, partial build must not keep that build's
    partitions. (The persisted IVF and PQ indexes no longer depend on
    it: ``sources/persisted.build_once`` writes every build into a fresh
    directory.)"""
    out = str(tmp_path / "assignments")
    old = spark.range(60).select(
        F.col("id").alias("vec_id"), (F.col("id") % 3).cast("int").alias("cell")
    )
    old.write.mode("overwrite").partitionBy("cell").parquet(out)
    new = spark.range(100, 140).select(
        F.col("id").alias("vec_id"), (F.col("id") % 2).cast("int").alias("cell")
    )
    new.write.mode("overwrite").partitionBy("cell").parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == 40
    assert sorted(r["cell"] for r in back.select("cell").distinct().collect()) == [0, 1]
    assert back.agg(F.min("vec_id")).first()[0] == 100


def _parquet(spark, path):
    return spark.read.parquet(path)


# sink -> (writer, reader, top-level partition column)
SINKS = {
    "write_silver": (write_silver, _parquet, "symbol_clean"),
    "silver_csv_sink": (silver_csv_sink, read_silver_csv, "symbol_clean"),
    "write_close_only": (write_close_only, _parquet, "symbol"),
}


def _input(spark, tmp_path, sink):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    write_mock_envelope_files(
        spark, str(raw_dir), ["NSE:RELIANCE-EQ", "NSE:TCS-EQ", "NSE:INFY-EQ"], days=1
    )
    silver = bronze_to_silver(read_raw_envelopes(spark, str(raw_dir)), dedup="last")
    if sink != "write_close_only":
        return silver.localCheckpoint()
    return normalize_close_only(
        silver.select(
            F.col("symbol_clean").alias("symbol"),
            F.col("timestamp_unix").alias("timestamp"),
            "close",
            "volume",
        )
    ).localCheckpoint()


def _data_files(root):
    """{relative path: (size, mtime_ns)} of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _rows(df, key):
    return sorted((r[key], str(r["close"])) for r in df.select(key, "close").collect())


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_partitioned_sink_commit_contract(spark, tmp_path, sink):
    """Fresh destination -> static commit; existing destination -> the
    re-run replaces exactly the partitions it writes (dynamic overwrite
    as a writer option, ST5)."""
    write, read, key = SINKS[sink]
    df = _input(spark, tmp_path, sink)
    out = str(tmp_path / "out")

    # a static commit puts the default committer's _SUCCESS at the
    # destination root; a dynamic one leaves it in the deleted staging dir.
    # The rule is the sink's own: a session asking for dynamic overwrite
    # does not change it.
    key_conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key_conf)
    spark.conf.set(key_conf, "dynamic")
    try:
        write(df, out)
    finally:
        spark.conf.set(key_conf, prev)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [f for f in os.listdir(out) if f.startswith(".spark-staging")]
    assert _rows(read(spark, out), key) == _rows(df, key)

    before = _data_files(out)
    changed = f"{key}=TCS"
    kept = {p: s for p, s in before.items() if not p.startswith(changed + os.sep)}
    assert kept and len(kept) < len(before)

    rerun = df.filter(F.col(key) == "TCS").withColumn("close", F.col("close") * 2)
    write(rerun, out)

    after = _data_files(out)
    assert {p: s for p, s in after.items() if not p.startswith(changed + os.sep)} == kept
    back = read(spark, out)
    assert _rows(back.filter(F.col(key) == "TCS"), key) == _rows(rerun, key)
    assert _rows(back.filter(F.col(key) != "TCS"), key) == _rows(
        df.filter(F.col(key) != "TCS"), key
    )
